package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.A scans/sources/sinks, §2.B projection/filter,
  * §2.C joins, §2.F sorts/limits, §2.G set ops.
  *
  * All equi joins are declared via the DataFrame API and left to Catalyst's
  * JoinSelection (broadcast for dims under the 10MB threshold, sort-merge for
  * large-large — pinned with hints where SURVEY §2 requires the plan shape).
  */
object Relational {

  /** memory-sink names must be unique per started query within a session */
  private val a11Seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shared versioned-table fixture for a27 (time travel) and a28
    * (change feed): seed orders k<3000 as 4 stat-named files, enable
    * versioning (v0), DELETE k<1000 (v1), INSERT the +100000-shifted
    * [1500,3000) slice (v2). Registers the catalog and returns its
    * name; idempotent — the mutation history runs once per fixture. */
  private[operators] def ttFixture(s: org.apache.spark.sql.SparkSession, d: String): String = {
    // ranges are TIER-PROOF: sf0.001's orders keys stop at 1499, so the
    // seed/delete/insert slices all live below 1200 (the first cut used
    // [1500,3000) for the insert — empty at sf0.001, which silently
    // skipped the v2 snapshot and broke VERSION AS OF 2 at that tier)
    val root = cachedFixture(s, d, "a27_tt_v2") { p =>
      seedOrdersCsv(s, d, s"$p/orders_tt", Some(1200))
    }
    val cat = catalog(s, "graft_tt", classOf[graft.sources.CowDeleteCatalog], root)
    val dir = new java.io.File(root, "orders_tt")
    // per-mutation version-count guards: a crash mid-history resumes at
    // the missing step instead of wedging the fixture at a partial state
    graft.sources.CowVersions.enable(dir) // snapshot v0 = the seed (idempotent)
    def ver(): Long = graft.sources.CowVersions.read(dir).map(_._1).max
    if (ver() < 2L) {
      if (ver() == 0L)
        s.sql(s"DELETE FROM $cat.orders_tt WHERE k < 400") // -> v1
      t(s, d, "orders")
        .filter(col("o_orderkey") >= 600 && col("o_orderkey") < 1200)
        .select((col("o_orderkey") + 100000L).as("k"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("total"))
        .createOrReplaceTempView("a27_ins")
      s.sql(s"INSERT INTO $cat.orders_tt SELECT * FROM a27_ins") // -> v2
      require(ver() == 2L,
        "ttFixture: the mutation history must produce snapshots 0,1,2 — " +
          "a degenerate slice at this tier skipped one")
      val badVersionRaises =
        try { s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 9")
               .collect(); false }
        catch { case _: Exception => true }
      require(badVersionRaises,
        "a27: VERSION AS OF a nonexistent snapshot must raise")
    }
    cat
  }

  val queries: Map[String, Q] = Map(
    // ---- A. scans / sources / sinks ----
    "a1_scan_parquet_full" -> ((s, d) =>
      t(s, d, "nation").orderBy("n_nationkey")),

    "a2_scan_projection" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    "a3_scan_filter_pushdown" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast(TimestampType))
        .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast(LongType).as("ym"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("ym")),

    "a4_source_csv_roundtrip" -> ((s, d) => {
      val src = t(s, d, "region")
      val path = cachedFixture(s, d, "a4_csv") { p =>
        src.write.mode("overwrite").option("header", "true").csv(p)
      }
      // schema pass-through, not inferSchema: inference re-reads the whole
      // CSV once just to guess types — a full extra scan at 100 TB
      s.read.schema(src.schema).option("header", "true").csv(path)
        .orderBy("r_regionkey")
    }),

    "a5_sink_partitioned_parquet" -> ((s, d) => {
      val path = cachedFixture(s, d, "a5_part") { p =>
        // one file per year, however many splits the input scans as
        t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .repartition(col("o_year"))
          .write.mode("overwrite").partitionBy("o_year").parquet(p)
      }
      s.read.parquet(path)
        .groupBy(col("o_year").cast(LongType).as("o_year"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_year")
    }),

    // a12: DYNAMIC PARTITION OVERWRITE — the incremental-reload idiom
    // every partitioned lake lives on: reprocess ONE slice (the current
    // year) and overwrite ONLY the partitions the new data touches,
    // leaving every other partition's files untouched. Write 1 lays the
    // full year-partitioned table; write 2 rewrites the 2001 slice with
    // corrected values under `partitionOverwriteMode=dynamic` (a WRITER
    // option — no session-level conf mutation). The semantics ARE the
    // oracle check: in the default static mode, write 2 would DELETE
    // 1995–2000 wholesale and the per-year counts would collapse — the
    // hash-match proves the dynamic contract held. At 100 TB this is the
    // difference between rewriting one day and clobbering the table.
    "a12_sink_dynamic_overwrite" -> ((s, d) => {
      val path = cachedFixture(s, d, "a12_dynover") { p =>
        val base = t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
          .repartition(col("o_year")) // one file per year, as in a5
        base.write.mode("overwrite").partitionBy("o_year").parquet(p)
        base.filter(col("o_year") === 2001)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_year").parquet(p)
      }
      s.read.parquet(path)
        .groupBy(col("o_year").cast(LongType).as("o_year"))
        .agg(count(lit(1)).as("cnt"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .orderBy("o_year")
    }),

    // a13: GLOB-FILTERED RECURSIVE LAKE READ — the file-selection levers
    // a messy real lake requires: `recursiveFileLookup` walks nested,
    // non-hive directory trees (data dropped by upstream jobs at
    // different depths), `pathGlobFilter` admits only the data files —
    // the fixture plants a garbage .txt decoy in EVERY directory, so the
    // options are load-bearing: without the glob the parquet reader
    // trips on the decoys, without the recursion the nested half of the
    // data is silently missing (and the per-year counts would
    // hash-mismatch). File-level selection is the zeroth scan lever —
    // before partition pruning even applies, the listing itself must
    // not read junk.
    "a13_source_glob_filtered" -> ((s, d) => {
      val path = cachedFixture(s, d, "a13_messy_lake") { p =>
        val o = t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
        o.filter(col("o_year") % 2 === 0)
          .write.mode("overwrite").parquet(s"$p/drop_even")
        o.filter(col("o_year") % 2 =!= 0)
          .write.mode("overwrite").parquet(s"$p/upstream/nested/drop_odd")
        Seq(s"$p/drop_even/junk.txt", s"$p/upstream/nested/drop_odd/junk.txt",
          s"$p/upstream/readme.txt").foreach { f =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
            "not parquet\n")
        }
      }
      s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
        .groupBy(col("o_year").cast(LongType).as("o_year"))
        .agg(count(lit(1)).as("cnt"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .orderBy("o_year")
    }),

    // a14: NESTED COLUMN PRUNING — the struct-column half of the scan-
    // pruning story (a2 prunes top-level columns): telemetry lakes store
    // wide structs, and a query touching one leaf must read ONE leaf
    // from parquet, not the whole struct. Fixture = events re-encoded
    // with a (k, ts_us, vstr) struct payload; the query projects only
    // payload.k, and the scan's ReadSchema is require-gated to exactly
    // struct<payload:struct<k:int>> — Spark's SchemaPruning rule at
    // work, asserted fail-loud (the l28 gate idiom applied to nested
    // schema). At 100 TB with 100-field structs this is a ~100× scan-IO
    // lever, same magnitude as column pruning itself.
    "a14_nested_column_pruning" -> ((s, d) => {
      val path = cachedFixture(s, d, "a14_nested") { p =>
        t(s, d, "events")
          .select(col("event_id"), struct(
            from_json(col("props"), lit("k INT")).getField("k").as("k"),
            epochUs(col("ts")).as("ts_us"),
            col("event_type").as("vstr")).as("payload"))
          .write.mode("overwrite").parquet(p)
      }
      val q = s.read.parquet(path)
        .select(col("event_id"), col("payload.k").as("k"))
        .orderBy("event_id")
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("ReadSchema: struct<event_id:bigint,payload:struct<k:int>>"),
        "nested pruning failed — the scan reads more than payload.k:\n" + plan)
      q
    }),

    // a15: SORTED-CLUSTERED LAKE LAYOUT — the write-side lever that makes
    // parquet min/max statistics USABLE: `repartitionByRange` on the scan
    // key + `sortWithinPartitions` yields files with DISJOINT key ranges
    // and monotone row groups, so a later range predicate prunes whole
    // row groups from the footer stats instead of decoding every page
    // (the poor man's Z-order — the single-column case where plain range
    // clustering is optimal). Two fail-loud gates: (1) the layout gate
    // proves the files really have pairwise-disjoint l_shipdate ranges
    // (grouped min/max per input_file_name — the property stats-pruning
    // depends on; an unsorted write would overlap everywhere and turn
    // stats-skipping into a no-op), and (2) the plan gate requires the
    // range predicate pushed into the scan (pushedDownFilters non-empty
    // on l_shipdate). At 100 TB this layout choice is the difference
    // between a 60-day query reading ~60 days of row groups vs the whole
    // fact table — the same reason warehouses cluster fact tables on
    // date.
    "a15_sink_sorted_clustered" -> ((s, d) => {
      val path = cachedFixture(s, d, "a15_sorted_lake") { p =>
        t(s, d, "lineitem")
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
          .write.mode("overwrite").parquet(p)
      }
      // layout gate: per-file [min,max] shipdate ranges must be disjoint
      // (epoch-µs longs — l_shipdate reads as TIMESTAMP_NTZ, so avoid
      // Row.getTimestamp's TimestampType assumption)
      val ranges = s.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(epochUs(col("l_shipdate").cast(TimestampType))).as("lo"),
          max(epochUs(col("l_shipdate").cast(TimestampType))).as("hi"))
        .orderBy("lo")
        .collect() // ≤ 8 rows — file-count-sized, never data-sized
      ranges.sliding(2).foreach {
        case Array(a, b) => require(a.getLong(2) <= b.getLong(1),
          s"sorted-clustered write produced overlapping file ranges: $a vs $b")
        case _ => ()
      }
      val q = s.read.parquet(path)
        .filter(col("l_shipdate") >= lit("2000-06-01").cast(TimestampType) &&
          col("l_shipdate") < lit("2000-08-01").cast(TimestampType))
        .groupBy(date_trunc("week", col("l_shipdate").cast(TimestampType)).as("wk"))
        .agg(count(lit(1)).as("cnt"),
          dbl(sum(dec(col("l_extendedprice"), 18, 2))).as("sum_price"))
        .select(epochUs(col("wk")).as("wk_us"), col("cnt"), col("sum_price"))
        .orderBy("wk_us")
      // unwrap the AQE root (the l34 idiom) — collect() does not descend
      // into AdaptiveSparkPlanExec's captured inputPlan
      val root = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      val pushed = root.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.dataFilters.exists(_.references.exists(_.name == "l_shipdate"))
      }
      require(pushed.nonEmpty && pushed.forall(identity),
        "l_shipdate range predicate not pushed to the clustered scan:\n" +
          q.queryExecution.executedPlan.toString)
      q
    }),

    // a21: COLUMN DEFAULT VALUES — the DDL/DML contract that keeps old
    // writers valid through schema growth: the table declares DEFAULTs
    // (a flag, a provenance tag), the INSERT names only the columns it
    // knows (the pre-migration writer's column list), and the engine
    // fills the rest — the alternative is every producer breaking the
    // moment a column lands. INSERT OVERWRITE keeps the key idempotent
    // across invocations (re-runs replace, never append-duplicate).
    // External table over scratch (the c12 no-warehouse idiom).
    "a21_sink_insert_defaults" -> ((s, d) => {
      val tag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + Integer.toHexString(d.hashCode)
      val tbl = s"graft_def_$tag"
      val loc = scratch(s, s"a21_$tag", "tbl")
      s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl (
          k BIGINT, st STRING,
          flagged BOOLEAN DEFAULT false,
          src STRING DEFAULT 'ingest')
        USING parquet LOCATION '$loc'""")
      t(s, d, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .createOrReplaceTempView(s"a21_src_$tag")
      s.sql(s"""INSERT OVERWRITE TABLE $tbl (k, st)
        SELECT o_orderkey, o_orderstatus FROM a21_src_$tag""")
      s.table(tbl).orderBy("k")
    }),

    // a22: HIDDEN FILE-METADATA COLUMNS — every file-based scan exposes a
    // `_metadata` struct (file_name/file_path/file_size/row_index, never
    // materialized in the data) that is the engine-native way to build
    // LINEAGE audits: which physical file did each row come from, and at
    // which position. At 100 TB this is the tool for per-file quarantine
    // (join a bad-file list against file_name), idempotent re-ingest
    // bookkeeping (file_name + row_index = a stable physical row id for
    // sources with no natural key), and skew forensics (rows per file).
    // The key proves the columns are EXACT, not merely present: over the
    // one-file orders table, row_index must be a full permutation of
    // [0, n) — pinned by count = distinct-count, min 0, max n−1, and the
    // closed-form sum n(n−1)/2 — and file_size must equal the physical
    // byte length the filesystem reports (computed OUTSIDE the plan and
    // compared IN it, so a drifting value fails the hash gate, the a19
    // in-query-gate idiom). Projecting only _metadata + nothing else
    // still prunes the data columns: metadata fields come from the
    // file listing + row position counters, not the column chunks.
    "a22_source_file_metadata" -> ((s, d) => {
      // the claim is about the physical source file, so read it directly,
      // not through Tables.t's re-laid copy
      val physicalLen = new java.io.File(s"$d/orders.parquet").length()
      s.read.parquet(s"$d/orders.parquet")
        .select(col("_metadata.file_name").as("fn"),
          col("_metadata.file_size").as("fsz"),
          col("_metadata.row_index").as("ri"))
        .agg(
          min(col("fn")).as("file_name"),
          countDistinct(col("fn")).as("n_files"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("ri")).as("n_distinct_idx"),
          min(col("ri")).as("min_idx"),
          max(col("ri")).as("max_idx"),
          sum(col("ri")).as("sum_idx"),
          (max(col("fsz")) === physicalLen && min(col("fsz")) === physicalLen)
            .as("size_matches_fs"))
    }),

    // a23: COMPRESSION-CODEC SINK — at 100 TB the parquet codec choice is
    // a first-order cost lever (storage bytes, scan IO, decompress CPU).
    // Write the same orders rows under zstd and snappy, gate IN THE
    // FOOTER that every column chunk actually carries the requested codec
    // (the a19 lesson: a silently-ignored option is indistinguishable
    // from success without a physical-layout check), and emit (a) a
    // roundtrip aggregate over the zstd copy — proving the codec path is
    // lossless — and (b) the measured size ordering zstd < snappy as an
    // oracled boolean (deterministic: same rows, same writer, zstd's
    // entropy stage beats snappy's LZ-only scheme on every real table).
    // Sizes themselves are emitted as a ratio only in the SURVEY note,
    // not the result (byte counts are writer-version-specific; the
    // ORDERING is the stable contract).
    "a23_sink_codec_roundtrip" -> ((s, d) => {
      def writeWith(codec: String): String =
        cachedFixture(s, d, s"a23_$codec") { p =>
          t(s, d, "orders").write.mode("overwrite")
            .option("compression", codec).parquet(p)
        }
      def footerCodecs(path: String): Set[String] = {
        val files = new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        require(files.nonEmpty, s"a23: no parquet files under $path")
        import scala.jdk.CollectionConverters._
        files.iterator.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI),
            new org.apache.hadoop.conf.Configuration())
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try reader.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala.map(_.getCodec.toString)).toSet
          finally reader.close()
        }.toSet
      }
      def bytes(path: String): Long =
        new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val zstdPath = writeWith("zstd")
      val snapPath = writeWith("snappy")
      val (zc, sc) = (footerCodecs(zstdPath), footerCodecs(snapPath))
      require(zc == Set("ZSTD"), s"a23: zstd copy carries codecs $zc")
      require(sc == Set("SNAPPY"), s"a23: snappy copy carries codecs $sc")
      val zstdSmaller = bytes(zstdPath) < bytes(snapPath)
      s.read.parquet(zstdPath)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .withColumn("zstd_smaller", lit(zstdSmaller))
        .orderBy("o_orderstatus")
    }),

    // a20: RAW TEXT-LINE SOURCE — the sixth format of the connector
    // family (parquet/orc/csv/json/binaryFile/text) and the zeroth step
    // of every log-ETL pipeline: `text` reads a directory of raw lines
    // as a single `value` column, and structure is imposed AFTER the
    // scan by regexp extraction (the schema-on-read shape — upstream
    // appenders never agree to a schema, the pipeline's parser IS the
    // contract). Fixture: key=value log lines rendered from orders;
    // numeric round-trip relies on shortest-roundtrip double formatting
    // (write toString → parse back = identical double). Extraction
    // stays codegen'd per-row regex fused into the scan; the grouping
    // is the only shuffle.
    "a20_source_text_logs" -> ((s, d) => {
      val path = cachedFixture(s, d, "a20_logs") { p =>
        t(s, d, "orders").filter(col("o_orderkey") < 2000)
          .select(concat(
            lit("order="), col("o_orderkey"),
            lit(" cust="), col("o_custkey"),
            lit(" price="), col("o_totalprice").cast(StringType),
            lit(" status="), col("o_orderstatus")))
          .write.mode("overwrite").text(p)
      }
      s.read.text(path)
        .select(
          regexp_extract(col("value"), "order=(\\d+)", 1)
            .cast(LongType).as("k"),
          regexp_extract(col("value"), "status=([A-Z])", 1).as("st"),
          regexp_extract(col("value"), "price=([0-9.]+)", 1)
            .cast(DoubleType).as("price"))
        .groupBy("st")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(dec(col("price"), 18, 2))).as("sum_price"))
        .orderBy("st")
    }),

    // a24: FIXED-WIDTH SOURCE — the seventh connector format and the
    // mainframe/COBOL-extract shape that still feeds real warehouses:
    // no delimiters at all, fields are BYTE RANGES in a layout contract
    // (positions 1-10 key, 11-20 custkey, 21 status, 22-33 price).
    // Parsed schema-on-read like a20 — `text` scan + substring/cast
    // fused into the scan, codegen'd per row, zero extra passes. The
    // zero-padded numeric render round-trips exactly: %010d parses back
    // through the leading zeros, %012.2f of a 2dp-exact double is an
    // exact decimal literal both engines re-read bit-for-bit. The key
    // sums BOTH a parsed numeric field and the money column per group,
    // so a one-byte boundary slip anywhere in the layout breaks the
    // hash gate (off-by-one in fixed-width parsing is THE classic
    // silent corruption of this format).
    "a24_source_fixed_width" -> ((s, d) => {
      val path = cachedFixture(s, d, "a24_fixed") { p =>
        t(s, d, "orders").filter(col("o_orderkey") < 4000)
          .select(format_string("%010d%010d%1s%012.2f",
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice")).as("value"))
          .write.mode("overwrite").text(p)
      }
      s.read.text(path)
        .select(
          substring(col("value"), 1, 10).cast(LongType).as("k"),
          substring(col("value"), 11, 10).cast(LongType).as("ck"),
          substring(col("value"), 21, 1).as("st"),
          substring(col("value"), 22, 12).cast(DoubleType).as("price"))
        .groupBy("st")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("k")).as("sum_keys"),
          dbl(sum(dec(col("price"), 18, 2))).as("sum_price"))
        .orderBy("st")
    }),

    // a25: EXECUTABLE ROW-LEVEL DELETE — the missing half of j24: there
    // the DELETE *language* is lowered over views (Spark rejects row-
    // level DML on plain file relations); here a custom V2 TableCatalog
    // ([[graft.sources.CowDeleteCatalog]]) implements the engine's
    // actual `SupportsDeleteV2` contract, so the SAME statement runs
    // END-TO-END: analyzer → predicate translation → connector
    // `canDeleteWhere`/`deleteWhere`. The connector is the copy-on-
    // write lake shape in miniature — data files carry k-range stats in
    // their names (the manifest idiom), `deleteWhere` FILE-LEVEL PRUNES
    // (files whose range cannot intersect the predicate stay physically
    // untouched — byte/mtime-gated below; at 100 TB this is why a keyed
    // purge costs minutes, not a table rewrite) and rewrites only the
    // touched files via temp + atomic rename, refreshing their stats.
    // `canDeleteWhere` REFUSES predicates it cannot apply exactly, so
    // the engine raises instead of half-deleting (SinkSpec pins the
    // refusal). Re-running is idempotent: the rewritten files' stats no
    // longer intersect, so the second delete touches nothing.
    "a25_catalog_cow_delete" -> ((s, d) => {
      val root = cachedFixture(s, d, "a25_cow") { p =>
        seedOrdersCsv(s, d, s"$p/orders_cow", None, parts = 8)
      }
      val cat = catalog(s, "graft_cow", classOf[graft.sources.CowDeleteCatalog], root)
      val dir = new java.io.File(root, "orders_cow")
      // files provably outside the predicate, with their pre-delete state
      val untouchable = graft.sources.CowTable.manifest(dir)
        .filter { case (_, lo, _) => lo >= 1500L }
        .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
      s.sql(s"DELETE FROM $cat.orders_cow WHERE k < 1500")
      // the file-level pruning gate: non-intersecting files byte-identical
      val after = graft.sources.CowTable.manifest(dir)
        .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }.toSet
      untouchable.foreach { st =>
        require(after.contains(st),
          s"a25: file ${st._1} outside the predicate range was rewritten — " +
            "file-level pruning lost")
      }
      s.table(s"$cat.orders_cow")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("k")).as("min_k"),
          dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
        .withColumn("purged", col("min_k") >= 1500L)
        .orderBy("st")
    }),

    // a26: WRITE-SIDE SCHEMA EVOLUTION — the other half of a9 (which
    // reads files that ALREADY disagree): here the engine EVOLVES the
    // table — `ALTER TABLE ADD COLUMNS` through the V2 catalog, then
    // `INSERT INTO` rows carrying the new columns — the ship-first
    // evolution of every lakehouse format, because trailing ADD COLUMN
    // is METADATA-ONLY: the sidecar schema manifest gains two fields,
    // history files are NEVER rewritten (gated below on byte-size+mtime
    // — rewriting history on ALTER is the 100-TB anti-pattern this key
    // exists to forbid), and readers null-pad short rows against the
    // current schema. Three contracts pinned: (1) seeded rows read back
    // with NULL in both added columns; (2) inserted rows round-trip
    // values AND genuine NULLs in the added columns (NULL-in-new-column
    // ≠ short-row NULL — same surface, different provenance, both
    // correct); (3) any evolution that would require rewriting history
    // (DROP COLUMN) is REFUSED loudly by the catalog, not faked. The
    // INSERT runs the full V2 write path: staged task files, commit-
    // coordinated renames, each new file entering the manifest with its
    // own k-range stats — so a25's delete pruning works unchanged on
    // post-evolution files.
    "a26_catalog_schema_evolution" -> ((s, d) => {
      val root = cachedFixture(s, d, "a26_evo") { p =>
        seedOrdersCsv(s, d, s"$p/orders_evo", Some(3000))
        // fresh fixture ⇒ no leftover sidecar/inserted files from a
        // previous session's run (cachedFixture reuses the dir)
      }
      val cat = catalog(s, "graft_evo", classOf[graft.sources.CowDeleteCatalog], root)
      val dir = new java.io.File(root, "orders_evo")
      // idempotent re-run: evolution + insert happen once per fixture
      val already = graft.sources.CowTable.addedColumns(dir).nonEmpty
      if (!already) {
        val seeded = graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
        s.sql(s"ALTER TABLE $cat.orders_evo ADD COLUMNS (chan STRING, prio BIGINT)")
        // refusal gate: history-rewriting evolution must raise
        val refused =
          try { s.sql(s"ALTER TABLE $cat.orders_evo DROP COLUMN total"); false }
          catch { case _: Exception => true }
        require(refused, "a26: DROP COLUMN was accepted — the catalog " +
          "must refuse evolutions that need a history rewrite")
        t(s, d, "orders")
          .filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 4500)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            when(col("o_orderkey") % 3 === 0, lit(null).cast(StringType))
              .otherwise(concat(lit("ch_"),
                (col("o_orderkey") % 3).cast(StringType))).as("chan"),
            nullif(col("o_orderkey") % 5, lit(0)).as("prio"))
          .createOrReplaceTempView("a26_new_rows")
        s.sql(s"INSERT INTO $cat.orders_evo SELECT * FROM a26_new_rows")
        // metadata-only gate: every pre-evolution file byte-identical
        val after = graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }.toSet
        seeded.foreach { st =>
          require(after.contains(st),
            s"a26: history file ${st._1} was rewritten by ALTER/INSERT — " +
              "trailing ADD COLUMN must be metadata-only")
        }
      }
      s.table(s"$cat.orders_evo")
        .groupBy(
          when(col("k") < 3000, "seeded").otherwise("inserted").as("src"),
          col("chan"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("prio")).as("n_prio"),
          sum(col("prio")).as("sum_prio"),
          dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
        .orderBy(col("src"), col("chan").asc_nulls_first)
    }),

    // a27: SNAPSHOT VERSIONING + TIME TRAVEL — the third leg of the
    // lakehouse storage story (a25 CoW delete, a26 metadata-only
    // evolution): with versioning enabled, every mutation snapshots the
    // pre-state — retired data files move to `_archive/` instead of
    // dying, `_versions.log` records each snapshot's file list — and
    // `VERSION AS OF n` re-reads any historical state through the V2
    // catalog's time-travel loadTable. The mutation history here is the
    // canonical audit scenario: seed (v0) → keyed DELETE (v1) → INSERT
    // batch (v2 = current); the key emits all four reads (v0, v1, v2,
    // current) as one ledger — v2 and current must agree (the newest
    // snapshot IS the live table), v0 must still show rows the DELETE
    // purged. Archived copies are keyed by their retirement version
    // (`rv<m>-<name>`) so a file NAME recreated by a later insert can
    // never shadow an old snapshot's content (SinkSpec pins that
    // collision plus vacuum expiry). A nonexistent version RAISES —
    // gated in-key. Un-versioned tables (a25/a26) keep delete-means-
    // delete unchanged: versioning is per-table opt-in, exactly like
    // every lakehouse format's retention config. At 100 TB: a snapshot
    // costs one manifest line — time travel is metadata, storage cost
    // is bounded by the churn the vacuum horizon retains, never by
    // table size.
    "a27_catalog_time_travel" -> ((s, d) => {
      val cat = ttFixture(s, d)
      def leg(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
            max(col("k")).as("max_k"),
            dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
          .select(lit(name).as("leg"), col("n_rows"), col("min_k"),
            col("max_k"), col("sum_total"))
      leg("v0", s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 0"))
        .unionAll(leg("v1", s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 1")))
        .unionAll(leg("v2", s.sql(s"SELECT * FROM $cat.orders_tt VERSION AS OF 2")))
        .unionAll(leg("current", s.table(s"$cat.orders_tt")))
        .orderBy("leg")
    }),

    // a29: EXECUTED UPDATE through the V2 row-level-operation API — the
    // final DML leg (a25 executes DELETE via the METADATA path;
    // j24 lowers UPDATE *language* over views; this runs `UPDATE` SQL
    // END-TO-END through analyzer → RewriteUpdateTable → group-based
    // ReplaceData → connector): the engine scans the affected group,
    // applies the SET expressions itself (so three-valued predicate
    // semantics are the ENGINE's — the nullable predicate below must
    // leave NULL-pred rows untouched, b3/j24's 3VL pinned in actual
    // execution), and hands the group's full post-image to the
    // connector, whose commit atomically swaps the group's files.
    // Versioning composes: the swap retires the old files and
    // snapshots, so the BEFORE state stays readable via VERSION AS OF —
    // both legs emitted and oracled. Groups are FILE-LEVEL: the table
    // exposes `_file` metadata, the engine's runtime group filter
    // proves which files hold matching rows, and the replace commit
    // swaps ONLY those — files whose rows cannot match stay
    // byte-identical (SinkSpec pins the mtime gate; a25's pruning
    // economics, now for UPDATE/MERGE). Money updated in DECIMAL,
    // emitted as double (§7.2).
    "a29_catalog_update_exec" -> ((s, d) => {
      val root = cachedFixture(s, d, "a29_upd") { p =>
        seedOrdersCsv(s, d, s"$p/orders_upd", Some(1200))
      }
      val cat = catalog(s, "graft_upd", classOf[graft.sources.CowDeleteCatalog], root)
      val dir = new java.io.File(root, "orders_upd")
      // guard each mutation on the VERSION COUNT, not on "versioning
      // enabled" — a crash between enable and the mutation must retry
      // the mutation on the next run, not skip it
      graft.sources.CowVersions.enable(dir) // v0 = pre-update (idempotent)
      if (graft.sources.CowVersions.read(dir).map(_._1).max == 0L) {
        s.sql(s"""UPDATE $cat.orders_upd
          SET total = CAST(CAST(total AS DECIMAL(18,2))
                           + CAST(1.25 AS DECIMAL(3,2)) AS DOUBLE)
          WHERE nullif(k % 7, 0) >= 3""") // -> v1
        require(graft.sources.CowVersions.read(dir).map(_._1).max == 1L,
          "a29: the executed UPDATE must commit exactly one snapshot")
      }
      def leg(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("st"))
          .agg(count(lit(1)).as("n_rows"),
            dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
          .select(lit(name).as("leg"), col("st"), col("n_rows"),
            col("sum_total"))
      leg("before", s.sql(s"SELECT * FROM $cat.orders_upd VERSION AS OF 0"))
        .unionAll(leg("after", s.table(s"$cat.orders_upd")))
        .orderBy("leg", "st")
    }),

    // a30: EXECUTED MERGE INTO through the same row-level-operation API
    // as a29 — the capstone of the DML story: one connector surface
    // (SupportsRowLevelOperations + the CoW replace write) and the
    // engine executes ALL of UPDATE (a29), inexact DELETE (a25's
    // fallback), and now the full THREE-CLAUSE MERGE — matched UPDATE,
    // not-matched INSERT, not-matched-BY-SOURCE conditional DELETE —
    // via RewriteMergeIntoTable → group-based ReplaceData. j18 proved
    // the MERGE *language* lowers to the right plan over views; this
    // proves the engine DRIVES A CONNECTOR with it, end-to-end, with
    // the versioned before-state readable via VERSION AS OF (both legs
    // oracled). Tier-proof slices: matched = [600,1200) (bump +2.50 in
    // DECIMAL), inserts = [0,600) shifted +200000, by-source delete =
    // target k < 300.
    "a30_catalog_merge_exec" -> ((s, d) => {
      val root = cachedFixture(s, d, "a30_mrg") { p =>
        seedOrdersCsv(s, d, s"$p/orders_mrg", Some(1200))
      }
      val cat = catalog(s, "graft_mrg", classOf[graft.sources.CowDeleteCatalog], root)
      val dir = new java.io.File(root, "orders_mrg")
      graft.sources.CowVersions.enable(dir) // v0 (idempotent)
      if (graft.sources.CowVersions.read(dir).map(_._1).max == 0L) {
        val ord = t(s, d, "orders")
        ord.filter(col("o_orderkey") >= 600 && col("o_orderkey") < 1200)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            col("o_totalprice").as("total"))
          .unionAll(ord.filter(col("o_orderkey") < 600)
            .select((col("o_orderkey") + 200000L).as("k"),
              col("o_orderstatus").as("st"), col("o_totalprice").as("total")))
          .createOrReplaceTempView("a30_src")
        s.sql(s"""MERGE INTO $cat.orders_mrg t USING a30_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET
            total = CAST(CAST(t.total AS DECIMAL(18,2))
                         + CAST(2.50 AS DECIMAL(3,2)) AS DOUBLE)
          WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)
          WHEN NOT MATCHED BY SOURCE AND t.k < 300 THEN DELETE""") // -> v1
        require(graft.sources.CowVersions.read(dir).map(_._1).max == 1L,
          "a30: the executed MERGE must commit exactly one snapshot")
      }
      def leg(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("st"))
          .agg(count(lit(1)).as("n_rows"),
            dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
          .select(lit(name).as("leg"), col("st"), col("n_rows"),
            col("sum_total"))
      leg("before", s.sql(s"SELECT * FROM $cat.orders_mrg VERSION AS OF 0"))
        .unionAll(leg("after", s.table(s"$cat.orders_mrg")))
        .orderBy("leg", "st")
    }),

    // a31: the same executed DML — through the MERGE-ON-READ half of
    // the row-level API (`SupportsDelta`). Where a29/a30's CoW
    // operation rewrites affected files, here the engine hands the
    // connector ONLY the changed rows (DeltaWriter.delete/update/
    // insert keyed by the declared rowId `k`) and every statement
    // appends one delta file while the base files stay BYTE-IDENTICAL
    // (require-gated on mtime+length below — the write-optimized
    // economics: an UPDATE costs O(changed rows), never a group
    // rewrite). Reads pay instead: each scan folds the delta log into
    // broadcast-sized tombstone/patch/insert state (MorSpec pins the
    // fold's edges and compaction). The statement sequence composes
    // across the log — the DELETE's tombstones are visible to the
    // UPDATE's scan, both to the MERGE's — and the 'ops' legs oracle
    // the SHAPE of what was written (op counts + key sums per delta
    // file), not just the final state: a connector that secretly
    // rewrote files to the right answer would still fail the gates.
    "a31_catalog_mor_dml" -> ((s, d) => {
      val root = cachedFixture(s, d, "a31_mor") { p =>
        seedOrdersCsv(s, d, s"$p/orders_mor", Some(1200))
      }
      val cat = catalog(s, "graft_mor", classOf[graft.sources.MorDeltaCatalog], root)
      val dir = new java.io.File(root, "orders_mor")
      // idempotence guard = the delta log itself (one file per
      // committed statement); re-runs on a cached fixture skip
      if (graft.sources.MorDeltas.deltaFiles(dir).isEmpty) {
        val stamps = graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
        s.sql(s"DELETE FROM $cat.orders_mor WHERE k % 10 = 7")
        s.sql(s"""UPDATE $cat.orders_mor
          SET total = CAST(CAST(total AS DECIMAL(18,2))
                           + CAST(1.25 AS DECIMAL(3,2)) AS DOUBLE)
          WHERE nullif(k % 7, 0) >= 3""") // 3VL: NULL-pred rows untouched
        val ord = t(s, d, "orders")
        ord.filter(col("o_orderkey") >= 600 && col("o_orderkey") < 1200)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            col("o_totalprice").as("total"))
          .unionAll(ord.filter(col("o_orderkey") < 400)
            .select((col("o_orderkey") + 300000L).as("k"),
              col("o_orderstatus").as("st"), col("o_totalprice").as("total")))
          .createOrReplaceTempView("a31_src")
        s.sql(s"""MERGE INTO $cat.orders_mor t USING a31_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET
            total = CAST(CAST(t.total AS DECIMAL(18,2))
                         + CAST(2.50 AS DECIMAL(3,2)) AS DOUBLE)
          WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)
          WHEN NOT MATCHED BY SOURCE AND t.k < 200 THEN DELETE""")
        require(graft.sources.MorDeltas.deltaFiles(dir).size == 3,
          "a31: each committed statement must publish exactly one delta file")
        require(graft.sources.CowTable.manifest(dir)
          .map { case (f, _, _) => (f.getName, f.length, f.lastModified) }
          == stamps,
          "a31: MoR DML must leave every base file byte-identical")
      }
      // 'ops' legs: the delta log's shape, read back as data — op
      // counts and key sums per statement file, oracled below
      import s.implicits._
      val ops = graft.sources.MorDeltas.deltaFiles(dir).flatMap { case (n, f) =>
        java.nio.file.Files.readAllLines(f.toPath)
          .toArray(Array.empty[String]).toSeq
          .map { ln => val p = ln.split(",", -1); (n, p(0), p(1).toLong) }
      }.toDF("stmt", "op", "k")
        .groupBy(col("stmt"), col("op"))
        .agg(count(lit(1)).as("n_rows"), dbl(sum(col("k"))).as("chk"))
        .select(concat(lit("ops"), col("stmt")).as("leg"), col("op").as("st"),
          col("n_rows"), col("chk"))
      s.table(s"$cat.orders_mor")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(dec(col("total"), 18, 2))).as("chk"))
        .select(lit("after").as("leg"), col("st"), col("n_rows"), col("chk"))
        .unionAll(ops)
        .orderBy("leg", "st")
    }),

    // a33: TIME TRAVEL on the MERGE-ON-READ table — a27's read-side
    // story on a31's storage, with the structurally OPPOSITE cost
    // model: a MoR snapshot is a LOG-PREFIX (base files + the first n
    // delta files), so versioning needs NO archive and NO file copies —
    // history is free until compaction folds (and thereby VACUUMS) it.
    // `VERSION AS OF n` replays exactly n statements; n beyond the log
    // RAISES (gated), a snapshot is read-only by capability, and a
    // compacted table refuses travel below the compaction floor rather
    // than silently serving the folded state as history (MorSpec pins
    // that corner plus post-compaction sequence continuity). Legs v0
    // (pre-DML) / v1 (post-DELETE) / v2 (post-UPDATE) / current are
    // all emitted and oracled — current must equal v2 and v0 must
    // still show the deleted rows.
    "a33_catalog_mor_travel" -> ((s, d) => {
      val root = cachedFixture(s, d, "a33_mtt") { p =>
        seedOrdersCsv(s, d, s"$p/orders_mt", Some(1200))
      }
      val cat = catalog(s, "graft_mtt", classOf[graft.sources.MorDeltaCatalog], root)
      val dir = new java.io.File(root, "orders_mt")
      if (graft.sources.MorDeltas.deltaFiles(dir).isEmpty) {
        s.sql(s"DELETE FROM $cat.orders_mt WHERE k % 10 = 7") // -> v1
        s.sql(s"""UPDATE $cat.orders_mt
          SET total = CAST(CAST(total AS DECIMAL(18,2))
                           + CAST(1.25 AS DECIMAL(3,2)) AS DOUBLE)
          WHERE nullif(k % 7, 0) >= 3""") // -> v2
        require(graft.sources.MorDeltas.deltaFiles(dir).size == 2,
          "a33: two statements must commit two snapshots")
      }
      // a nonexistent snapshot must RAISE, not return something
      require(scala.util.Try(
        s.sql(s"SELECT * FROM $cat.orders_mt VERSION AS OF 9").collect())
        .isFailure, "a33: VERSION AS OF 9 must raise (log has 0..2)")
      def leg(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("st"))
          .agg(count(lit(1)).as("n_rows"),
            dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
          .select(lit(name).as("leg"), col("st"), col("n_rows"),
            col("sum_total"))
      leg("v0", s.sql(s"SELECT * FROM $cat.orders_mt VERSION AS OF 0"))
        .unionAll(leg("v1", s.sql(s"SELECT * FROM $cat.orders_mt VERSION AS OF 1")))
        .unionAll(leg("v2", s.sql(s"SELECT * FROM $cat.orders_mt VERSION AS OF 2")))
        .unionAll(leg("v3_current", s.table(s"$cat.orders_mt")))
        .orderBy("leg", "st")
    }),

    // c23: STORAGE-PARTITIONED JOIN — the connector-level shuffle
    // eliminator (Iceberg bucket joins / hive bucketing, through the
    // V2 read API): both sides of the join REPORT their physical
    // layout (KeyGroupedPartitioning on identity(grp), one partition
    // per group, each exposing its key via HasPartitionKey —
    // sources/BucketedSource), so with v2 bucketing enabled the engine
    // plans the grp-join AND the grp-aggregation with ZERO shuffle
    // exchanges — require-gated from the executed plan (no
    // ShuffleExchange anywhere, and the join must be a real
    // SortMergeJoin, broadcast disabled so the gate can't be satisfied
    // trivially). The source's rows are a closed form, so the whole
    // pipeline is oracle-derivable from generate_series. At 100 TB
    // this is the fact-fact join that moves ZERO rows over the
    // network because the lake layout already clusters both sides.
    "c23_join_storage_partitioned" -> ((s, d) => {
      withConf(s)("spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        def src(rows: Int) = s.read.format("graft.sources.BucketedSource")
          .option("groups", "8").option("rowsPerGroup", rows.toString).load()
        val a = src(2000)
        val b = src(500).filter(col("k") < 25)
          .select(col("grp"), col("v").as("bv"))
        val joined = a.join(b, "grp")
          .groupBy("grp")
          .agg(count(lit(1)).as("n_pairs"), sum(col("v")).as("sum_av"),
            sum(col("bv")).as("sum_bv"))
          .orderBy("grp")
        val phys = joined.queryExecution.executedPlan
        val root = phys match {
          case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            ad.inputPlan
          case p => p
        }
        require(root.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.isEmpty,
          s"c23: the storage-partitioned plan must contain ZERO shuffle " +
            s"exchanges:\n$root")
        require(root.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }.nonEmpty,
          s"c23: expected a real SortMergeJoin (broadcast disabled):\n$root")
        // the scan also REPORTS its per-partition (grp, k) order
        // (SupportsReportOrdering — the sorted-bucket layout), so the
        // merge join's sort requirement is satisfied straight off the
        // scan: zero SortExec nodes BELOW the join (the key's own
        // final orderBy is the one legitimate sort in the plan)
        require(root.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }.forall(_.collect {
          case so: org.apache.spark.sql.execution.SortExec => so
        }.isEmpty),
          s"c23: the reported ordering must feed the merge join sort-free:\n$root")
        // A negative control was ATTEMPTED and abandoned — itself a
        // measured finding worth recording: Spark 4.1 plans shuffle-
        // free even for (a) MISMATCHED group counts on the same key
        // (8 vs 16 — KeyGroupedPartitionings align by partition VALUE,
        // not count) and (b) a join on the NON-partition column k
        // (verified CORRECT: 32 000 pairs, the full 8×8 cross-group
        // match set — the engine's compatibility machinery is broader
        // than the naive "join keys must equal partition keys" model).
        // A require built on that naive model would be a brittle
        // version-dependent pin, so the key gates only the POSITIVE
        // claims above, which are the feature's contract.
        joined
      }
    }),

    // a36: WRITE-REQUESTED DISTRIBUTION AND ORDERING — the write-side
    // counterpart of c23's reported read layout: the sink's Write
    // declares (RequiresDistributionAndOrdering) that incoming rows
    // must arrive CLUSTERED by the leading column and SORTED by
    // (cluster, order), and the ENGINE inserts the shuffle + sort
    // before any task writes a byte — the layout contract lives in the
    // connector, the plan work in the engine (how an Iceberg-class
    // sink gets one-file-per-key, internally-sorted files without
    // trusting the query author to repartition). The proof is read
    // back FROM THE WRITTEN BYTES and oracled: every cluster value
    // must occupy exactly ONE shard (n_files literal 1) and every
    // in-shard cluster block must be sorted by the order column
    // (sorted literal true) — which shard a value hashes to is
    // deliberately NOT the contract. Downstream, this layout is what
    // makes c23-style reads possible: write-side clustering is where
    // read-side shuffle elimination is born.
    "a36_sink_required_distribution" -> ((s, d) => {
      val root = cachedFixture(s, d, "a36_clu") { _ => () }
      val out = new java.io.File(root, "out")
      if (!new java.io.File(out, "_graft_committed").isFile) {
        t(s, d, "orders").filter(col("o_orderkey") < 3000)
          .select((col("o_orderkey") % 8).as("ckey"),
            col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
          .write.format("graft.sources.ClusteredCsvSink")
          .option("path", out.getAbsolutePath).mode("append").save()
      }
      val back = s.read.option("sep", "\t")
        .option("pathGlobFilter", "shard-*.tsv")
        .schema("ckey LONG, okey LONG, price DOUBLE")
        .csv(out.getAbsolutePath)
        .withColumn("file", input_file_name())
        .withColumn("mid", monotonically_increasing_id())
      // per in-shard cluster block: physical row order must follow okey
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("file", "ckey").orderBy("mid")
      back.withColumn("prev", lag(col("okey"), 1).over(w))
        .groupBy(col("ckey"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("file")).as("n_files"),
          min(coalesce(col("prev") <= col("okey"), lit(true))).as("sorted"),
          dbl(sum(dec(col("price"), 18, 2))).as("sum_price"))
        .orderBy("ckey")
    }),

    // c24: RUNTIME FILE PRUNING through the V2 scan — the read-path
    // twin of a29's runtime group filter, and the connector-level
    // analogue of l34's lake DPP: the engine proves the join's key set
    // at runtime (the broadcast dim's selective predicate feeds a
    // dynamic-pruning IN subquery planted on the scan —
    // SupportsRuntimeV2Filtering), and the connector prunes its
    // MANIFEST by each file's [lo, hi] stats BEFORE any file opens.
    // Gated twice from the plan: the scan node must CARRY the planted
    // runtime filter, and after execution the scan must have pruned to
    // exactly ONE of four files (the dim's keys all sit in file 0's
    // range). At 100 TB this is the fact-side file-skipping an
    // Iceberg-class table does for every selective dim join — churn
    // the dim, read only the matching fact files.
    "c24_join_runtime_file_prune" -> ((s, d) => {
      val root = cachedFixture(s, d, "c24_rfp") { p =>
        seedOrdersCsv(s, d, s"$p/orders_rf", Some(1200))
      }
      val cat = catalog(s, "graft_rfp", classOf[graft.sources.CowDeleteCatalog], root)
      // the dim: a SELECTIVE predicate over the parquet source (the
      // dynamic-pruning rule requires one) whose keys all sit inside
      // file 0's [.., 299] stats range
      val dim = t(s, d, "orders")
        .filter(col("o_orderstatus").isin("O", "F") && col("o_orderkey") < 300)
        .select(col("o_orderkey").as("k"))
      val joined = s.table(s"$cat.orders_rf").join(broadcast(dim), "k")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_rows"),
          dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
        .orderBy("st")
      val scans = (joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[graft.sources.CowScan] => b
      }
      require(scans.nonEmpty && scans.forall(_.runtimeFilters.nonEmpty),
        "c24: the engine must plant a runtime filter on the V2 scan " +
          s"(got ${scans.map(_.runtimeFilters)})")
      // fire the runtime filter with a real execution, then gate the
      // connector-side prune count from the SAME scan instance
      joined.queryExecution.toRdd.count()
      val pruned = scans.map(_.scan.asInstanceOf[graft.sources.CowScan].prunedTo)
      require(pruned.forall(_.contains(1)),
        s"c24: runtime stats pruning must keep exactly 1 of 4 files, got $pruned")
      joined
    }),

    // a35: AGGREGATE PUSHDOWN into the V2 scan — the connector answers
    // an ungrouped MIN/MAX over the stats column from its MANIFEST
    // (file-name k-ranges): the scan emits ONE pre-aggregated row and
    // reads ZERO data rows — at 100 TB this is why `SELECT max(ts)
    // FROM lake` costs a manifest read, not a table scan (the same
    // trick parquet footers give file sources, demonstrated at the
    // connector layer where lakehouse formats actually implement it).
    // The contract is exact-or-refuse: COUNT (no row counts in the
    // names), SUM, other columns, or GROUP BY make pushAggregation
    // return false and the engine falls back to the row scan + its own
    // aggregation — BOTH paths are require-gated from the plan tree
    // (pushed leg's scan must be the one-row CowAggScan; fallback
    // leg's must NOT be) and both are oracled.
    "a35_scan_agg_pushdown" -> ((s, d) => {
      val root = cachedFixture(s, d, "a35_agg") { p =>
        seedOrdersCsv(s, d, s"$p/orders_ap", Some(1200))
      }
      val cat = catalog(s, "graft_ap", classOf[graft.sources.CowDeleteCatalog], root)
      def scansOf(df: org.apache.spark.sql.DataFrame) = {
        val phys = df.queryExecution.executedPlan
        val p = phys match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case other => other
        }
        p.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }
      }
      val pushed = s.sql(
        s"SELECT min(k) AS min_k, max(k) AS max_k FROM $cat.orders_ap")
      require(scansOf(pushed).nonEmpty && scansOf(pushed).forall(
        _.isInstanceOf[graft.sources.CowAggScan]),
        "a35: the min/max query must scan through the pushed-aggregate " +
          s"path, got ${scansOf(pushed).map(_.getClass.getName)}")
      val fallback = s.sql(
        s"""SELECT min(k) AS min_k, max(k) AS max_k,
             CAST(sum(k) AS BIGINT) AS sum_k FROM $cat.orders_ap""")
      require(scansOf(fallback).nonEmpty && scansOf(fallback).forall(
        !_.isInstanceOf[graft.sources.CowAggScan]),
        "a35: a SUM-bearing aggregation must NOT push (exact-or-refuse)")
      pushed.select(lit("pushed").as("leg"), col("min_k"), col("max_k"),
          lit(null).cast(LongType).as("sum_k"))
        .unionAll(fallback.select(lit("fallback").as("leg"), col("min_k"),
          col("max_k"), col("sum_k")))
        .orderBy("leg")
    }),

    // a34: ATOMIC REPLACE TABLE AS SELECT — the third leg of the
    // staging-DDL story (a32 creates, this REPLACES): the new content
    // stages invisibly while READERS KEEP SEEING THE ORIGINAL, and
    // only a successful data write swaps it in (retire-then-publish,
    // the per-file CoW swap at whole-table granularity — a production
    // catalog makes the two renames one metadata-pointer CAS, same
    // contract). The atomicity gates run EVERY time: a POISON RTAS
    // must fail and leave the original table's aggregate EXACTLY
    // intact plus zero staging/retirement debris, and REPLACE of a
    // missing table must raise (the REPLACE≠CREATE distinction).
    // This is how every derived table refreshes at 100 TB: rebuild
    // next to the live copy, swap atomically, never serve a
    // half-refreshed state.
    "a34_catalog_rtas_atomic" -> ((s, d) => {
      val root = cachedFixture(s, d, "a34_rtas") { _ => () }
      val cat = catalog(s, "graft_rtas", classOf[graft.sources.CowDeleteCatalog], root)
      t(s, d, "orders").createOrReplaceTempView("a34_src")
      val tbl = new java.io.File(root, "orders_rt")
      // slices pinned INSIDE every tier's contiguous key range (the
      // a27 lesson: sf0.001 orderkeys stop at 1499 — a slice past the
      // end verifies vacuously AND leaves an empty table behind)
      if (!tbl.isDirectory)
        s.sql(s"""CREATE TABLE $cat.orders_rt AS
          SELECT o_orderkey AS k, o_orderstatus AS status,
                 o_totalprice AS price
          FROM a34_src WHERE o_orderkey < 1000""")
      // gate 1: REPLACE of a missing table must raise (REPLACE ≠ CREATE)
      require(scala.util.Try(s.sql(
        s"REPLACE TABLE $cat.nope AS SELECT 1L AS k")).isFailure,
        "a34: REPLACE TABLE of a missing table must raise")
      // gate 2: a poison RTAS must fail AND leave the original exactly
      // intact (1-row scalar gate, the a22 in-query-gate idiom)
      val pre = s.table(s"$cat.orders_rt")
        .agg(count(lit(1)), dbl(sum(dec(col("price"), 18, 2)))).head()
      val poisoned = scala.util.Try(s.sql(
        s"""REPLACE TABLE $cat.orders_rt AS
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 500 = 3
                       THEN raise_error('a34 poison')
                       ELSE o_orderstatus END AS status,
                  o_totalprice AS price
           FROM a34_src WHERE o_orderkey < 2000"""))
      require(poisoned.isFailure, "a34: the poison RTAS must fail")
      require(s.table(s"$cat.orders_rt")
        .agg(count(lit(1)), dbl(sum(dec(col("price"), 18, 2)))).head() == pre,
        "a34: a failed RTAS must leave the original table intact")
      require(Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).forall(f =>
          !f.getName.startsWith(".stage-") &&
            !f.getName.startsWith(".replaced-")),
        "a34: a failed RTAS must leave no staging or retirement debris")
      // the real replace (guard: the seed tops out below k=1000;
      // null-safe so a historical empty state self-heals)
      val mx = s.table(s"$cat.orders_rt").agg(max(col("k"))).head()
      if (mx.isNullAt(0) || mx.getLong(0) < 1000L)
        s.sql(s"""REPLACE TABLE $cat.orders_rt AS
          SELECT o_orderkey AS k, o_orderstatus AS status,
                 o_totalprice AS price
          FROM a34_src
          WHERE o_orderkey >= 1000 AND o_orderkey < 2000""")
      s.table(s"$cat.orders_rt")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
          dbl(sum(dec(col("price"), 18, 2))).as("sum_price"))
        .orderBy("status")
    }),

    // a32: ATOMIC CTAS through the V2 STAGING contract — the missing
    // DDL leg of the catalog story (a25-a31 mutate seeded tables; this
    // CREATES one from a query): `CREATE TABLE … AS SELECT` stages the
    // table invisibly, runs the full data write into the staged
    // directory, and only a successful write commits (ONE atomic
    // rename into the namespace). The atomicity is gated, not assumed:
    // a POISON CTAS (raise_error on a planted key mid-scan) must fail
    // AND leave zero trace — no table, no stray staging dirs — and a
    // duplicate CTAS must raise TableAlreadyExists without touching
    // the committed table (both require-gated in-key, every run). The
    // storage generalizes past the fixed k/st/total demo schema via a
    // `_base.tsv` sidecar (leading BIGINT column = the stats/row-id
    // column the delete/update machinery prunes on), and the oracled
    // read-back proves the full round-trip including NULL encoding
    // (nullif'd priority survives as NULL, counted). At 100 TB: CTAS
    // is how every derived table materializes; atomic staging is why a
    // failed 3-hour job never leaves a half-table for readers.
    "a32_catalog_ctas_atomic" -> ((s, d) => {
      val root = cachedFixture(s, d, "a32_ctas") { _ => () }
      val cat = catalog(s, "graft_ctas", classOf[graft.sources.CowDeleteCatalog], root)
      t(s, d, "orders").createOrReplaceTempView("a32_src")
      val tbl = new java.io.File(root, "orders_ctas")
      if (!tbl.isDirectory) {
        // 1. the poison run: must fail and leave NOTHING behind
        val poisoned = scala.util.Try(s.sql(
          s"""CREATE TABLE $cat.orders_ctas AS
             SELECT o_orderkey AS k,
                    CASE WHEN o_orderkey % 500 = 3
                         THEN raise_error('a32 poison')
                         ELSE o_orderstatus END AS status,
                    o_totalprice AS price
             FROM a32_src WHERE o_orderkey < 3000"""))
        require(poisoned.isFailure, "a32: the poison CTAS must fail")
        require(!tbl.exists(),
          "a32: a failed CTAS must not publish a table")
        require(Option(new java.io.File(root).listFiles())
          .getOrElse(Array.empty).forall(!_.getName.startsWith(".stage-")),
          "a32: a failed CTAS must leave no staging directory behind")
        // 2. the real CTAS
        s.sql(s"""CREATE TABLE $cat.orders_ctas AS
          SELECT o_orderkey AS k, o_orderstatus AS status,
                 o_totalprice AS price,
                 nullif(o_orderpriority, '1-URGENT') AS prio
          FROM a32_src WHERE o_orderkey < 3000""")
      }
      // 3. re-creation must refuse loudly and leave the table intact
      val dup = scala.util.Try(s.sql(
        s"CREATE TABLE $cat.orders_ctas AS SELECT 1L AS k"))
      require(dup.isFailure &&
        dup.failed.get.isInstanceOf[
          org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException],
        s"a32: duplicate CTAS must raise TableAlreadyExists (got $dup)")
      s.table(s"$cat.orders_ctas")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"), count(col("prio")).as("n_prio"),
          dbl(sum(dec(col("price"), 18, 2))).as("sum_price"))
        .orderBy("status")
    }),

    // a28: CHANGE DATA FEED between snapshots — the read-side payoff of
    // a27's versioning (Delta's CDF / Iceberg's incremental read): the
    // row-level changes from v0 to v2 of the same mutation history,
    // computed from the MANIFEST DIFF, not a full-table diff. Files
    // present in both snapshots' manifests (identical resolved paths —
    // immutable data files make path equality a content guarantee)
    // contribute NOTHING and are never read (require-gated); only the
    // symmetric difference is scanned, and the rewritten file's
    // surviving rows cancel in the multiset difference (exceptAll), so
    // the feed is exactly {deleted rows, inserted rows}. This is why a
    // lakehouse CDC consumer costs churn-sized I/O, not table-sized:
    // at 100 TB with a 0.1% daily churn, the feed reads ~100 GB. The
    // differing files are read as plain CSV against the connector's
    // schema — the storage format IS the contract (same bytes the
    // pinned-snapshot scan serves).
    "a28_catalog_change_feed" -> ((s, d) => {
      val cat = ttFixture(s, d)
      val dir = new java.io.File(
        s.conf.get(s"spark.sql.catalog.$cat.root"), "orders_tt")
      val (onlyA, onlyB, common) =
        graft.sources.CowVersions.manifestDiff(dir, 0L, 2L)
      require(common.nonEmpty,
        "a28: the manifest diff must skip unchanged files — none were " +
          "shared between the snapshots (file-diff scale story lost)")
      val schema = graft.sources.CowTable.schema
      def readFiles(paths: Seq[String]) =
        if (paths.isEmpty)
          s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            schema)
        else s.read.schema(schema).csv(paths: _*)
      val removed = readFiles(onlyA).exceptAll(readFiles(onlyB))
      val added = readFiles(onlyB).exceptAll(readFiles(onlyA))
      def leg(op: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
            max(col("k")).as("max_k"),
            dbl(sum(dec(col("total"), 18, 2))).as("sum_total"))
          .select(lit(op).as("op"), col("n_rows"), col("min_k"),
            col("max_k"), col("sum_total"))
      leg("D", removed).unionAll(leg("I", added)).orderBy("op")
    }),

    // a17: MALFORMED-ROW HANDLING MODES — the schema-enforcement contract
    // every CSV/JSON ingest job needs pinned: the fixture plants THREE
    // token-count violations among clean orders rows (two truncated rows,
    // one with extra fields; DqSpec additionally pins that TYPE-conversion
    // failures quarantine too, with the raw line captured verbatim). PERMISSIVE (default)
    // keeps every line, null-fills the broken columns, and captures the
    // raw text in `columnNameOfCorruptRecord` — the quarantine-column
    // pattern (count it, route it, never lose it); DROPMALFORMED
    // silently drops the bad lines (the count proves exactly how many);
    // FAILFAST raises on the first one (asserted — a schema-drift
    // tripwire run, not a recovery mode). One key, all three modes, each
    // emitted as an oracled VALUE. At 100 TB permissive-with-quarantine
    // is the only mode that doesn't trade data loss for uptime; the
    // corrupt-record column costs nothing on clean rows.
    "a17_source_csv_malformed" -> ((s, d) => {
      val path = cachedFixture(s, d, "a17_badcsv_v2") { p =>
        t(s, d, "orders").filter(col("o_orderkey") < 1000)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .coalesce(1).write.mode("overwrite").csv(s"$p/clean")
        // append a shard of planted garbage: FileSource unions all files
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/clean/part-junk.csv"),
          "42,F\n43,O,2.5,EXTRA,FIELDS\n44\n")
      }
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("_bad", StringType)))
      // CSV parser column pruning parses ONLY the referenced fields — a
      // pruned read never even sees the corruption (count(*) parses
      // nothing, flags nothing, drops nothing). Malformed-row semantics
      // are a WHOLE-ROW property, so pin pruning off for this key and
      // materialize under the pinned conf (the l39 idiom).
      withConf(s)("spark.sql.csv.parser.columnPruning.enabled" -> "false") {
        val permissive = s.read.schema(schema)
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
          .csv(s"$path/clean")
        val dropped = s.read.schema(StructType(schema.dropRight(1)))
          .option("mode", "DROPMALFORMED").csv(s"$path/clean")
        val failed =
          try {
            s.read.schema(StructType(schema.dropRight(1)))
              .option("mode", "FAILFAST").csv(s"$path/clean")
              .agg(count(col("o_totalprice"))).collect()
            false
          } catch { case _: org.apache.spark.SparkException => true }
        require(failed, "FAILFAST did not raise on the planted corrupt rows")
        // price summed over NON-quarantined rows only: what a corrupt
        // row's parseable fragments contain is parser detail, not contract
        permissive.agg(
          count(lit(1)).as("n_permissive"),
          count(col("_bad")).as("n_quarantined"),
          dbl(sum(when(col("_bad").isNull, dec(col("o_totalprice"), 18, 2))))
            .as("sum_price_clean"))
          .crossJoin(dropped.agg(count(lit(1)).as("n_dropmalformed")))
          .localCheckpoint()
      }
    }),

    // a19: PARQUET COLUMN BLOOM FILTERS — the third stats layer of the
    // lake-layout ladder (a15 min/max clustering, a18 z-order, now
    // point-lookup filters): min/max stats prune RANGES but are useless
    // for `key = X` probes into unsorted high-cardinality columns — any
    // row group's [min,max] spans most keys. A per-column bloom filter
    // in the parquet footer answers "is X possibly here?" per row group
    // at ~1 byte/value, letting the reader skip groups that provably
    // lack the key. The gate reads the FOOTER METADATA directly
    // (parquet-hadoop API): every o_custkey column chunk must carry a
    // bloom filter offset — fail-loud, the write option is load-bearing,
    // not decorative. At 100 TB this is how needle-in-haystack id
    // lookups avoid full scans on dimensions nobody sorted by.
    "a19_sink_parquet_bloom" -> ((s, d) => {
      val path = cachedFixture(s, d, "a19_bloom_v3") { p =>
        // the column-scoped bloom key is a HADOOP conf, not a recognized
        // DataFrameWriter option — Spark's ParquetOptions forwards only
        // its known keys, so a .option() spelling writes no bloom (the
        // footer gate below caught exactly that); set it on the job conf
        // and restore after
        // second subtlety: parquet-mr SKIPS the bloom when the column is
        // fully dictionary-encoded (the dict page already gives exact
        // membership) — disable dictionary for the bloom column so the
        // filter actually materializes, which is also the production
        // shape: blooms earn their bytes exactly where dictionaries stop
        // fitting (high-cardinality id columns)
        val hc = s.sparkContext.hadoopConfiguration
        val keys = Seq("parquet.bloom.filter.enabled#o_custkey" -> "true",
          "parquet.enable.dictionary#o_custkey" -> "false")
        val prev = keys.map { case (k, _) => k -> Option(hc.get(k)) }
        keys.foreach { case (k, v) => hc.set(k, v) }
        try t(s, d, "orders").write.mode("overwrite").parquet(p)
        finally prev.foreach {
          case (k, Some(v)) => hc.set(k, v)
          case (k, None) => hc.unset(k)
        }
      }
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
      require(files.nonEmpty, "bloom fixture wrote no parquet files")
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toURI), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val offsets = reader.getFooter.getBlocks.asScala.map { blk =>
          blk.getColumns.asScala
            .find(_.getPath.toDotString == "o_custkey")
            .map(_.getBloomFilterOffset).getOrElse(-1L)
        }
        require(offsets.nonEmpty && offsets.forall(_ >= 0),
          s"o_custkey bloom filter missing from footer (offsets: $offsets)")
      } finally reader.close()
      s.read.parquet(path)
        .filter(col("o_custkey") === 42)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .orderBy("o_custkey")
    }),

    // a18: 2-D Z-ORDER CLUSTERED LAYOUT — a15's range clustering is
    // optimal for ONE scan dimension; the moment queries slice the same
    // fact table by date OR by customer, 1-D sorting leaves the second
    // dimension's extent at 100% of every file and its filters prune
    // nothing. Z-ordering interleaves the bit representations of both
    // (bucketized) dimensions into one sort key, so each file covers a
    // small RECTANGLE of (date, custkey) space — a filter on EITHER
    // dimension alone skips most files from footer stats. The interleave
    // is pure unrolled integer bit-arithmetic (10 bits/dim → a 20-bit
    // morton code), codegen'd, no UDF. The gate measures the property
    // itself, not the plumbing: a 1/8-span slice of EACH dimension must
    // overlap at most half the files (under a 1-D layout the off-axis
    // slice overlaps ALL of them — measured before gating). At 100 TB
    // this is the lakehouse OPTIMIZE ZORDER operation; the bucket
    // resolution (1024) bounds the morton code while file count scales
    // freely.
    "a18_sink_zorder_2d" -> ((s, d) => {
      val bits = 10
      val bkt = (c: org.apache.spark.sql.Column, lo: Long, span: Long) =>
        least(lit((1 << bits) - 1),
          ((c - lo) * (1 << bits)) / (span + 1)).cast(LongType)
      val path = cachedFixture(s, d, "a18_zorder_v2") { p =>
        val o = t(s, d, "orders")
          .withColumn("d_us", epochUs(col("o_orderdate").cast(TimestampType)))
        val st = o.agg(min("d_us"), max("d_us"), min("o_custkey"),
          max("o_custkey")).head() // 1-row scalar bounds
        val (dLo, dHi, cLo, cHi) =
          (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
        val xb = bkt(col("d_us"), dLo, dHi - dLo)
        val yb = bkt(col("o_custkey"), cLo, cHi - cLo)
        val z = (0 until bits).map { i =>
          shiftleft(shiftright(xb, i).bitwiseAND(1), 2 * i + 1) +
            shiftleft(shiftright(yb, i).bitwiseAND(1), 2 * i)
        }.reduce(_ + _)
        o.withColumn("z", z)
          .repartitionByRange(64, col("z")).sortWithinPartitions("z")
          .drop("z", "d_us")
          .write.mode("overwrite").parquet(p)
      }
      // layout gate: per-file rectangles, then either-dimension pruning
      val rects = s.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(epochUs(col("o_orderdate").cast(TimestampType))).as("dlo"),
          max(epochUs(col("o_orderdate").cast(TimestampType))).as("dhi"),
          min("o_custkey").as("clo"), max("o_custkey").as("chi"))
        .collect() // file-count-sized (64 rows)
      val (dMin, dMax) = (rects.map(_.getLong(1)).min, rects.map(_.getLong(2)).max)
      val (cMin, cMax) = (rects.map(_.getLong(3)).min, rects.map(_.getLong(4)).max)
      def overlapping(sliceLoFrac: Double, dim: (org.apache.spark.sql.Row => (Long, Long)),
          lo: Long, hi: Long): Int = {
        val (sLo, sHi) = ((lo + (hi - lo) * sliceLoFrac).toLong,
          (lo + (hi - lo) * (sliceLoFrac + 0.125)).toLong)
        rects.count { r => val (a, b) = dim(r); a <= sHi && b >= sLo }
      }
      val dHits = overlapping(0.5, r => (r.getLong(1), r.getLong(2)), dMin, dMax)
      val cHits = overlapping(0.5, r => (r.getLong(3), r.getLong(4)), cMin, cMax)
      require(dHits <= rects.length / 2 && cHits <= rects.length / 2,
        s"z-order failed either-dimension pruning: a 1/8 date slice overlaps " +
          s"$dHits and a 1/8 custkey slice overlaps $cHits of ${rects.length} " +
          "files (a 1-D layout overlaps ALL files on its off axis)")
      // the oracled query: a 2-D range slice aggregate over the layout
      s.read.parquet(path)
        .filter(col("o_orderdate") >= lit("1998-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1999-01-01").cast(TimestampType) &&
          col("o_custkey") < 400)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .orderBy("o_orderstatus")
    }),

    // a16: BINARY-FILES SOURCE — the multimodal ingest entry point: the
    // `binaryFile` format turns a directory of opaque files (images,
    // audio, model shards — here deterministic .txt bodies so the
    // contract is oracle-able) into rows of (path, modificationTime,
    // length, content BINARY), one task per file, which is exactly how
    // image/audio corpora enter a lakehouse before l7/l30-style feature
    // extraction. The glob filter prunes at LISTING time (a13's zeroth
    // lever). Correctness contract: byte-exact content (sha2 over the
    // binary column must equal the hash of the text the file was written
    // from) + exact byte length — the loader may not transcode, truncate,
    // or pad. Fixture: one file per doc for a 100-doc slice (the collect
    // is fixture-build-only and file-count-sized). At 100 TB the format
    // parallelizes per file and never materializes a file twice; pair
    // with maxPartitionBytes sizing for many-small-file image corpora.
    "a16_source_binary_files" -> ((s, d) => {
      val path = cachedFixture(s, d, "a16_binfiles") { p =>
        new java.io.File(p).mkdirs()
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select("doc_id", "text").collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$p/doc_${r.getLong(0)}%05d.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
            .cast(LongType).as("doc_id"),
          col("length"),
          sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")
    }),

    "a6_source_json_lines" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("j", from_json(col("props"), schema_of_json(lit("""{"k": 1}"""))))
        .select(col("event_id"), col("j.k").cast(IntegerType).as("k"))
        .orderBy("event_id")),

    "a7_source_orc_roundtrip" -> ((s, d) => {
      val path = cachedFixture(s, d, "a7_orc") { p =>
        t(s, d, "nation").write.mode("overwrite").orc(p)
      }
      s.read.orc(path).orderBy("n_nationkey")
    }),

    // custom DataSource V2 connector (graft.sources.RangeSource): a
    // deterministic synthetic table read through the full V2 path —
    // partition planning (8 splits) + column-pruning pushdown. Exact long
    // sums keep the aggregate order-independent.
    "a8_source_custom_dsv2" -> ((s, d) =>
      s.read.format("graft.sources.RangeSource")
        .option("start", 0).option("end", 100000).option("slices", 8).load()
        .groupBy((col("id") % 7).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum(col("sq")).as("sum_sq"))
        .orderBy("bucket")),

    // schema evolution on read: two parquet slices written at different
    // "pipeline generations" — the newer generation grew a column.
    // mergeSchema reconciles them into one unified schema, null-filling
    // the old slice; the standard answer to additive schema drift in a
    // long-lived ingest directory (at scale: enable per-read, not
    // globally — footer merging costs one pass over file metadata).
    "a9_source_schema_evolution" -> ((s, d) => {
      val path = cachedFixture(s, d, "a9_evo") { p =>
        val o = t(s, d, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(s"$p/gen1")
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$p/gen2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$path/gen1", s"$path/gen2")
        .orderBy("o_orderkey")
    }),

    // write-side custom DataSource V2 connector (graft.sources.CsvDirSink,
    // the sink twin of a8's read connector): an aggregate written through
    // the full V2 write path — WriteBuilder → BatchWrite → per-partition
    // DataWriters with the task/job COMMIT PROTOCOL (temp file per task
    // attempt, rename on coordinated task commit, job-level marker on
    // commit) — then read back. Exact-roundtrip serialization (shortest-
    // repr doubles), so the read-back equals the direct aggregate.
    "a10_sink_custom_dsv2" -> ((s, d) => {
      // cached across runs AND across Bench's repeated invocations: the
      // sink write is deterministic, and the commit-protocol behaviour
      // itself is pinned by SinkSpec (including abort + streaming replay)
      val path = cachedFixture(s, d, "a10_sink") { p =>
        t(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
          .write.format("graft.sources.CsvDirSink").option("path", p)
          .mode("append").save()
      }
      require(new java.io.File(path, "_graft_committed").exists(),
        "CsvDirSink job-commit marker missing — write did not complete")
      // read the dir with a glob FILTER (a glob in the path itself trips
      // FileStreamSink.hasMetadata's noisy literal-stat WARN)
      s.read.option("sep", "\t")
        .option("pathGlobFilter", "part-*.tsv")
        .schema(StructType(Seq(
          StructField("o_orderstatus", StringType),
          StructField("n_orders", LongType),
          StructField("sum_total", DoubleType))))
        .csv(path)
        .orderBy("o_orderstatus")
    }),

    // a11: the STREAMING leg of the a8 connector — the same deterministic
    // range served through the DSv2 MicroBatchStream protocol: plain
    // position offsets, `maxRowsPerTrigger` honored via the
    // SupportsAdmissionControl ReadLimit, and Trigger.AvailableNow
    // draining the bounded range in RATE-LIMITED micro-batches through
    // SupportsTriggerAvailableNow. This is the offset/admission/
    // availability contract a Kafka-class source implements, exercised on
    // a source reproducible enough to oracle exactly; the query requires
    // ≥4 data batches from its own progress, so a silent fall-back to
    // one-shot consumption fails loud. Completes the connector family:
    // batch read (a8), batch write (a10), streaming write (i10/i14),
    // streaming read (a11).
    "a11_source_streaming_dsv2" -> ((s, d) => {
      val name = s"graft_a11_${a11Seq.incrementAndGet()}"
      val q = s.readStream.format("graft.sources.RangeSource")
        .option("start", 0).option("end", 20000)
        .option("slices", 4).option("maxRowsPerTrigger", 5000)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", scratch(s, name, "ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 4,
        s"expected >=4 rate-limited micro-batches (20000 rows / 5000 per " +
          s"trigger), saw $dataBatches — admission control is not limiting")
      s.table(name).orderBy("id")
    }),

    // ---- B. projection / filter / predicates ----
    "b1_project_derived" -> ((s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        dbl(dec(col("l_extendedprice"), 18, 2) *
          (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2))).as("revenue"),
        dbl(dec(col("l_extendedprice"), 18, 2) *
          (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2)) *
          (dec(lit(1), 3, 2) + dec(col("l_tax"), 4, 2))).as("charge")
      ).orderBy("l_orderkey", "l_linenumber", "revenue", "charge")),

    "b2_filter_complex" -> ((s, d) =>
      t(s, d, "part").filter(
        col("p_type").isin("PROMO", "ECONOMY") &&
        col("p_size").between(10, 30) &&
        (col("p_brand").like("Brand#1%") || col("p_brand").like("Brand#2%")) &&
        !(col("p_retailprice") > 990.0))
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .orderBy("p_partkey")),

    "b3_filter_threevalued" -> ((s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        nullif(col("c_nationkey") % 5, lit(0)).as("a"),
        nullif(col("c_nationkey") % 3, lit(0)).as("b"))
        .withColumn("eq3vl", col("a") === col("b"))
        .withColumn("nseq", col("a") <=> col("b"))
        .orderBy("c_custkey")),

    // b4: SUBTRACTIVE PROJECTION — `SELECT * EXCEPT (cols)`: the
    // wide-table ETL idiom for "everything but the sensitive/heavy
    // columns" (drop the PII or the 2-KB blob from a 300-column fact
    // without enumerating the 297 survivors — the enumeration form rots
    // the moment a column lands upstream, the subtractive form stays
    // correct by construction; the h19/l23 redaction family's schema-
    // level sibling). Column pruning still reaches the scan: the
    // analyzer expands EXCEPT to a concrete projection, so the excluded
    // columns are never read (ReadSchema drops them — same machinery as
    // a2). DuckDB spells it EXCLUDE; same semantics. l_shipdate rides
    // the exclusion list too — raw timestamp columns are banned from
    // oracled outputs (§7.2's epoch-µs rule; the point here is the
    // subtractive form, not the calendar).
    "b4_project_star_except" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("b4_lineitem")
      s.sql("""SELECT * EXCEPT (l_extendedprice, l_discount, l_tax, l_shipdate)
               FROM b4_lineitem
               ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                 l_quantity, l_returnflag, l_linestatus""")
    }),

    // ---- C. joins ----
    "c1_join_broadcast_equi" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("order_cnt"))
        .orderBy("c_mktsegment")),

    "c2_join_shuffle_equi" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(
          dbl(sum(dec(col("l_extendedprice"), 18, 2) *
            (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2)))).as("revenue"),
          count(lit(1)).as("item_cnt"))
        .orderBy("o_orderpriority")),

    "c3_join_left_outer" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("order_cnt"))
        .orderBy("c_custkey")),

    "c4_join_right_outer" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "right_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("order_cnt"))
        .orderBy("c_custkey")),

    "c5_join_full_outer" -> ((s, d) => {
      val cn = t(s, d, "customer").filter(col("c_nationkey") < 15)
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("c_cnt"))
      val sn = t(s, d, "supplier").filter(col("s_nationkey") >= 10)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("s_cnt"))
      cn.join(sn, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          col("c_cnt"), col("s_cnt"))
        .orderBy("nationkey")
    }),

    "c6_join_left_semi" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "c7_join_left_anti" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= lit("2001-01-01").cast(TimestampType)),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")),

    "c8_join_cross" -> ((s, d) => {
      val r1 = t(s, d, "region").select(col("r_name").as("r1_name"))
      val r2 = t(s, d, "region").select(col("r_name").as("r2_name"))
      r1.crossJoin(r2).orderBy("r1_name", "r2_name")
    }),

    // band join |price1-price2| <= 1.0 within brand, as a BUCKETED
    // equi-join: bucket each price into floor(price) units, explode one
    // side to its own bucket ± 1 (|a-b| <= 1 implies |floor(a)-floor(b)|
    // <= 1, so the 3 buckets cover every qualifying pair exactly once —
    // floor(price2) hits at most one of the 3 distinct values), then apply
    // the exact band predicate on the (near-output-sized) candidates.
    // The naive brand-only equi key explodes every within-brand pair
    // before the filter — quadratic in rows-per-brand, the one plan shape
    // that cannot survive a 100× scale-up. The bucket key collapses the
    // fan-out to ~3 × matching-bucket pairs.
    "c9_join_theta_band" -> ((s, d) => {
      val a = t(s, d, "part").select(col("p_partkey").as("p1"),
        col("p_brand").as("brand1"), col("p_retailprice").as("price1"))
      val b = t(s, d, "part").select(col("p_partkey").as("p2"),
        col("p_brand").as("brand2"), col("p_retailprice").as("price2"))
      val aB = a.withColumn("bkt", explode(array(
        floor(col("price1")) - 1, floor(col("price1")), floor(col("price1")) + 1)))
      aB.join(b, col("brand1") === col("brand2") &&
          col("bkt") === floor(col("price2")) && col("p1") < col("p2") &&
          abs(col("price1") - col("price2")) <= 1.0)
        .select("p1", "p2", "brand1", "price1", "price2")
        .orderBy("p1", "p2")
    }),

    // as-of join via union + last-value carry-forward (SURVEY §7.5): merge
    // both tables into one per-user timeline and carry the latest order
    // struct forward to each event row. ONE shuffle on user_id and a
    // per-partition sort — no |orders-per-user| × |events-per-user| join
    // fan-out, which is the classic as-of blow-up under skewed users.
    // Sort key (t, is_order desc, okey): orders sort before events at
    // equal t (the join is inclusive, o_orderdate <= ts) and the last
    // order carried at the max date is the max o_orderkey — identical
    // tie-break to the join+row_number formulation.
    "c10_join_asof" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ordRecType = "struct<o_orderkey:bigint,o_totalprice:double>"
      val ord = t(s, d, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderdate").as("t"),
        lit(1).as("is_order"),
        struct(col("o_orderkey"), col("o_totalprice")).as("ordrec"),
        col("o_orderkey").as("okey"),
        lit(null).cast(LongType).as("event_id"))
      val ev = t(s, d, "events").select(
        col("user_id"),
        col("ts").as("t"),
        lit(0).as("is_order"),
        lit(null).cast(ordRecType).as("ordrec"),
        lit(null).cast(LongType).as("okey"),
        col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("is_order").desc, col("okey").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord.unionByName(ev)
        .withColumn("carried", last(col("ordrec"), ignoreNulls = true).over(w))
        .filter(col("is_order") === 0)
        .select(col("event_id"), col("user_id"),
          col("carried.o_orderkey").as("o_orderkey"),
          col("carried.o_totalprice").as("o_totalprice"))
        .orderBy("event_id")
    }),

    // co-located (bucketed) join: both sides pre-bucketed+sorted on the
    // join key into catalog tables, so the sort-merge join reads bucket i
    // against bucket i directly — NO Exchange on either side (pinned by
    // PlanShapeSpec: strictly fewer shuffles than the equivalent c2).
    // This is THE 100-TB pattern for repeated fact-fact joins: pay the
    // shuffle once at write time, never per query.
    "c12_join_bucketed" -> ((s, d) => {
      val tag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + Integer.toHexString(d.hashCode)
      val ordT = s"graft_ord_$tag"
      val liT = s"graft_li_$tag"
      // the bucketed DATA is cached across runs (pay the bucketing shuffle
      // once per machine, which is the entire point of the pattern); the
      // catalog entry is per-session, re-registered over the cached files
      // with the same bucket spec via DDL
      val base = cachedFixture(s, d, "c12_bkt") { p =>
        // bucketed writes must go through saveAsTable: stage via throwaway
        // EXTERNAL tables (explicit path) and drop them right after — DROP
        // on an external table keeps the files
        val bOrd = s"graft_bld_ord_$tag"
        val bLi = s"graft_bld_li_$tag"
        t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$p/ord").saveAsTable(bOrd)
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$p/li").saveAsTable(bLi)
        s.sql(s"DROP TABLE $bOrd")
        s.sql(s"DROP TABLE $bLi"): Unit
      }
      s.sql(s"""CREATE TABLE IF NOT EXISTS $ordT
        (o_orderkey BIGINT, o_orderpriority STRING)
        USING parquet
        CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 8 BUCKETS
        LOCATION '$base/ord'""")
      s.sql(s"""CREATE TABLE IF NOT EXISTS $liT
        (l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE)
        USING parquet
        CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS
        LOCATION '$base/li'""")
      s.table(liT)
        .join(s.table(ordT).hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(
          dbl(sum(dec(col("l_extendedprice"), 18, 2) *
            (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2)))).as("revenue"),
          count(lit(1)).as("item_cnt"))
        .orderBy("o_orderpriority")
    }),

    // c14: SKEW-SALTED equi-join — the manual join-side skew idiom (the
    // d15 aggregation trick applied to joins, for when AQE's runtime
    // skew-join split can't help: a FIRST-shuffle hot key, e.g. the
    // "null user" or "anonymous session" id every event table has).
    // Fact side gets salt = hash(event_id) mod 16; the dim side is
    // EXPLODED 16× (one copy per salt) so the join key becomes
    // (key, salt) and one hot key's rows spread over 16 reducers
    // instead of stalling one. The dim replication is the PRICE of the
    // idiom — 16× a dim is still tiny next to one stalled reducer at
    // 100 TB. merge-hinted so the demo actually exercises the
    // sort-merge path it exists for (a broadcast would bypass the skew
    // problem entirely — and at the real scale the dim may not fit).
    // Salt-independence of the result = the oracle is the PLAIN join.
    "c14_join_salted_skew" -> ((s, d) => {
      val nSalt = 16
      val fact = t(s, d, "events")
        .select(col("user_id"), col("value"),
          pmod(hash(col("event_id")), lit(nSalt)).as("salt"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(sequence(lit(0), lit(nSalt - 1))).as("salt"))
      fact.join(dim.hint("merge"),
          col("user_id") === col("c_custkey") && fact("salt") === dim("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          dbl(sum(dec(col("value"), 25, 10))).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // c15: JOIN STRATEGY HINTS — the explicit override a user reaches for
    // when the optimizer's strategy choice is wrong for their data (stats
    // missing, build side mis-estimated, broadcast OOM-ing a driver).
    // Here the dim is small enough that Spark's default is a broadcast
    // join; the SHUFFLE_HASH hint on the dim side forces a shuffled hash
    // join instead — hints outrank every size-based rule — and the choice
    // is asserted FAIL-LOUD from the plan tree (the l28/l34 gate idiom),
    // so a Spark version demoting the hint to a suggestion breaks the
    // gate, not silently the plan. At 100 TB this is the lever for "the
    // dim is 10 GB: hash-partition both sides, don't broadcast" and its
    // inverse; results are strategy-invariant, so the oracle is c2's
    // plain join SQL shape.
    "c15_join_hint_shuffle_hash" -> ((s, d) => {
      val j = t(s, d, "orders")
        .join(t(s, d, "customer").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(dec(col("o_totalprice"), 18, 2))).as("sum_total"))
        .orderBy("c_mktsegment")
      val phys = j.queryExecution.executedPlan
      val root = phys match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      val shj = root.collect {
        case h: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => h
      }
      require(shj.nonEmpty,
        "SHUFFLE_HASH hint did not force a ShuffledHashJoin:\n" + root.toString)
      j
    }),

    // c16: LATERAL JOIN — the correlated-subquery-in-FROM surface (SQL:99
    // LATERAL): for every customer, the single latest order, expressed as
    // a per-row dependent subquery with ORDER BY + LIMIT 1 rather than a
    // window. Catalyst DECORRELATES the lateral into a ranked join (no
    // per-row re-execution — `DecorrelateInnerQuery` rewrites the LIMIT
    // into a partitioned row_number), so the declarative per-row form
    // pays one shuffle like the hand-written e1 idiom. INNER lateral
    // semantics would drop order-less customers (none exist at the
    // shipped SFs — every customer has orders — but the contract differs
    // from a left window pass and the oracle pins whichever holds).
    "c16_join_lateral" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("c16_customer")
      t(s, d, "orders").createOrReplaceTempView("c16_orders")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM c16_customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM c16_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
        ) o
        ORDER BY c.c_custkey""")
    }),

    // the same as-of semantics as c10, through the NATIVE custom operator
    // (graft.plans.AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec): a
    // streaming merge over co-partitioned sorted runs with one carried
    // row of state — no join fan-out, no window materialization. The
    // planner strategy is injected at runtime (spark.experimental), so
    // the operator works in any session.
    "c13_join_asof_native" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.AsOfJoin
        .asOf(s, ev, ord, "user_id", "ts", "o_custkey", "o_orderdate", "o_orderkey")
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    }),

    "c11_join_interval_self" -> ((s, d) => {
      // equi-join on (user, 10-minute time bucket), not user alone:
      // b_ts ∈ [a_ts, a_ts+10min] implies b's bucket is a's or the next,
      // so the probe side carries {bkt, bkt+1} and the exact interval
      // filter runs on bucket-local candidates only. Per-user fan-out is
      // bounded by 10-minute DENSITY, not the user's total event count —
      // user-only keys are quadratic per user at scale (c9's fix, reused).
      // Exactly one exploded bucket matches a given b row, so no dedup
      // pass is needed.
      val bkt = (c: org.apache.spark.sql.Column) =>
        floor(unix_micros(c) / (600L * 1000 * 1000))
      val a = t(s, d, "events").select(col("event_id").as("a_id"),
          col("user_id").as("a_user"), col("ts").as("a_ts"))
        .select(col("a_id"), col("a_user"), col("a_ts"),
          explode(array(bkt(col("a_ts")), bkt(col("a_ts")) + 1)).as("a_bkt"))
      val b = t(s, d, "events").select(col("event_id").as("b_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"),
        bkt(col("ts")).as("b_bkt"))
      a.join(b, col("a_user") === col("b_user") &&
          col("a_bkt") === col("b_bkt") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
          col("a_id") < col("b_id"))
        .select("a_id", "b_id", "a_user")
        .orderBy("a_id", "b_id")
    }),

    // ---- F. sorts / limits / top-k ----
    "f1_sort_multikey_nulls" -> ((s, d) =>
      t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal")).as("bal"))
        .orderBy(col("bal").desc_nulls_last, col("s_suppkey"))),

    "f2_limit_offset" -> ((s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderdate", "o_orderkey")
        .offset(20).limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    "f3_topk_global" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          dbl(dec(col("l_extendedprice"), 18, 2) *
            (dec(lit(1), 3, 2) - dec(col("l_discount"), 4, 2))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)),

    // f5: TOP-N PUSHDOWN into the V2 scan — f3 takes the global top-k
    // with a TakeOrderedAndProject over a FULL scan; here the
    // CONNECTOR absorbs the ORDER BY id LIMIT n (SupportsPushDownTopN,
    // complete pushdown): the planned range itself truncates to n rows
    // and the engine drops its TopN operator entirely — at 100 TB the
    // difference between "read everything, keep n" and "read n". The
    // contract is exact-or-refuse, both directions gated from the
    // executed plan: the ASC legs' scan descriptions must carry the
    // TRUNCATED range with no TakeOrderedAndProject anywhere, and the
    // DESC leg (this source cannot emit reversed rows, so it refuses)
    // must retain the engine's TopN over the FULL range yet still
    // produce the right rows. Filters compose: the pushed id-bounds
    // tighten first, then the TopN truncates the residual range.
    "f5_scan_topn_pushdown" -> ((s, d) => {
      val base = s.read.format("graft.sources.RangeSource")
        .option("start", "0").option("end", "100000").option("slices", "8")
        .load()
      def gates(df: org.apache.spark.sql.DataFrame, wantDesc: String,
          wantTopN: Boolean): org.apache.spark.sql.DataFrame = {
        val root = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case p => p
        }
        val scans = root.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.description()
        }
        require(scans.nonEmpty && scans.forall(_.startsWith(wantDesc)),
          s"f5: expected scan range $wantDesc, got $scans")
        val topns = root.collect {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        }
        require(topns.nonEmpty == wantTopN,
          s"f5: TakeOrderedAndProject presence must be $wantTopN:\n$root")
        df
      }
      val first = gates(base.orderBy(col("id")).limit(7),
        "graft_range(0,7", wantTopN = false)
      val tail = gates(base.filter(col("id") >= 99000L)
          .orderBy(col("id")).limit(5),
        "graft_range(99000,99005", wantTopN = false)
      val desc = gates(base.orderBy(col("id").desc).limit(3),
        "graft_range(0,100000", wantTopN = true)
      first.select(lit("a_first").as("leg"), col("id"), col("sq"))
        .unionAll(tail.select(lit("b_tail").as("leg"), col("id"), col("sq")))
        .unionAll(desc.select(lit("c_desc").as("leg"), col("id"), col("sq")))
        .orderBy("leg", "id")
    }),

    // f4: KEYSET PAGINATION — the SCALABLE pagination pattern, stated
    // against f2's LIMIT/OFFSET: OFFSET N must produce-and-discard N
    // rows (page 1000 of a 100-TB result scans everything before it),
    // while a keyset cursor (WHERE key > last_seen ORDER BY key LIMIT n)
    // SEEKS — each page is an indexed/pruned range probe whose cost is
    // page-sized, not position-sized. Three successive pages fetched by
    // carrying the cursor forward (the driver-side cursor is 1 scalar
    // per page — exactly what a paging API holds); pages union with
    // their page number so the oracle pins both content AND boundaries.
    // The cursor key (o_orderkey) is unique → total order → no
    // straddling-tie page drift, which is the pattern's precondition
    // worth stating: paginate on a UNIQUE key or append one.
    "f4_keyset_pagination" -> ((s, d) => {
      val pageSize = 50
      val base = t(s, d, "orders")
        .filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      var cursor = -1L
      val pages = (1 to 3).map { pno =>
        val page = base.filter(col("o_orderkey") > cursor)
          .orderBy("o_orderkey").limit(pageSize)
          .withColumn("page", lit(pno))
        cursor = page.agg(max("o_orderkey")).head().getLong(0) // the cursor
        page
      }
      pages.reduce(_ unionAll _)
        .select(col("page"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ---- G. set operations ----
    "g1_union_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
        .unionByName(
          o.filter(col("o_orderdate") >= lit("2001-01-01").cast(TimestampType))
            .select("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    "g2_union_distinct" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey")))
        .distinct()
        .orderBy("nationkey")),

    "g3_intersect" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey")))
        .orderBy("nationkey")),

    "g4_except" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").filter(col("s_acctbal") > 5000)
          .select(col("s_nationkey")))
        .orderBy("nationkey")),

    "g5_intersect_except_all" -> ((s, d) => {
      val ev = t(s, d, "events")
      val a = ev.filter(col("user_id") % 3 === 0).select("event_type")
      val b = ev.filter(col("user_id") % 3 === 1).select("event_type")
      a.intersectAll(b).withColumn("tag", lit("intersect_all"))
        .unionByName(a.exceptAll(b).withColumn("tag", lit("except_all")))
        .select("tag", "event_type")
        .orderBy("tag", "event_type")
    }),

    // g6: RECURSIVE CTE — Spark 4.1's `WITH RECURSIVE` (UnionLoopExec),
    // the SQL-standard iteration surface for hierarchy walks and graph
    // reachability that previously required driver-side loops (the l32
    // closure's shape, now expressible in one statement). The hierarchy
    // is derived deterministically from the data (parent = custkey div
    // 10, roots < 10 — every customer reachable in ≤ 3 steps), the
    // recursive term JOINS the recursive reference against the base
    // table, and the result aggregates per root. Scale: each iteration
    // is one hash join of the frontier against the (pruned) base scan —
    // the same per-round cost profile as the hand-built l32 closure,
    // with the engine owning loop control and fixpoint detection.
    "g6_recursive_cte" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("g6_customer")
      s.sql("""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS key, c_custkey AS root, 0 AS depth
          FROM g6_customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey AS key, ch.root AS root, ch.depth + 1 AS depth
          FROM g6_customer c JOIN chain ch ON c.c_custkey div 10 = ch.key
          WHERE c.c_custkey >= 10
        )
        SELECT root, CAST(count(*) AS BIGINT) AS n_desc,
               CAST(max(depth) AS BIGINT) AS max_depth
        FROM chain GROUP BY root ORDER BY root""")
    }),

    // g8: UNION BY NAME with missing columns — the schema-evolution
    // union (a9's reader-side evolution, at the operator level): two
    // producers of the same logical entity whose schemas drifted (the
    // supplier feed never carried `bal`) union POSITIONALLY-UNSAFELY but
    // name-correctly, the absent column null-filled
    // (`allowMissingColumns = true`). The classic failure this replaces
    // is positional UNION silently pairing mismatched columns — here the
    // name binding is the contract.
    "g8_union_by_name_missing" -> ((s, d) => {
      val a = t(s, d, "customer").select(lit("c").as("src"),
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
      val b = t(s, d, "supplier").select(lit("s").as("src"),
        col("s_suppkey").as("id"), col("s_name").as("name"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("src", "id")
    }),

    // g7: SQL PIPE SYNTAX — Spark 4's `|>` operator chain (SQL:2023-era
    // pipe-structured queries): the linear dataflow spelling of SQL where
    // each stage consumes the previous stage's output top-to-bottom, the
    // textual twin of the DataFrame API's method chain. Each pipe stage
    // parses to exactly the logical node its keyword names (WHERE →
    // Filter, EXTEND → Project-with-additions, AGGREGATE → Aggregate), so
    // Catalyst sees the IDENTICAL plan as the nested-SELECT spelling —
    // same pushdown, same partial aggregation, zero added cost at any
    // scale. The oracle is that desugared plain SQL (DuckDB has no pipe
    // parser; semantic equivalence is exactly the claim).
    "g7_sql_pipe_syntax" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("g7_lineitem")
      s.sql("""
        FROM g7_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |> EXTEND CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS rev
        |> AGGREGATE count(*) AS item_cnt, CAST(sum(rev) AS DOUBLE) AS revenue
             GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")
    }),

    // c17: CORRELATED SCALAR SUBQUERIES — the per-row-lookup spelling of
    // a dimension aggregate, in both SELECT (two scalar lookups) and
    // WHERE (a scalar threshold). Catalyst DECORRELATES each subquery
    // into ONE aggregate-then-left-outer-join over the whole orders
    // table (RewriteCorrelatedScalarSubquery): the naive reading is
    // O(customers) re-executions of an orders scan, the planned form is
    // one shuffle — with the COUNT-over-empty-group bug handled by the
    // rewrite (absent groups must read 0, not NULL, which the bare outer
    // join would produce). Identical duplicated subqueries share one
    // subtree via Spark's subquery reuse. The oracle runs the statement
    // verbatim in DuckDB.
    "c17_scalar_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("c17_customer")
      t(s, d, "orders").createOrReplaceTempView("c17_orders")
      s.sql("""
        SELECT c_custkey,
          (SELECT count(*) FROM c17_orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
          (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM c17_orders o
            WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM c17_customer c
        WHERE (SELECT count(*) FROM c17_orders o
                WHERE o.o_custkey = c.c_custkey) >= 1
        ORDER BY c_custkey""")
    }),

    // c18: IN / NOT IN SUBQUERIES with the three-valued-logic trap — the
    // most-misunderstood join surface in SQL: `NOT IN (subquery)` where
    // the subquery yields even ONE NULL can never be true (x <> NULL is
    // UNKNOWN), silently emptying the result. Three legs pin the full
    // contract: IN (a left-semi plan), the poisoned NOT IN (0 rows — the
    // trap itself, as a count so the emptiness is an asserted VALUE, not
    // an absent row), and the production fix (filter the NULLs → a real
    // null-aware anti join). Catalyst plans NOT IN as
    // NullAwareAntiJoin/BNL precisely because of this semantics — the
    // fix leg restores the cheap anti-join path, which is the 100-TB
    // lesson: un-filtered NOT IN is not just wrong-ish, it forces the
    // expensive null-aware plan.
    "c18_join_in_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("c18_customer")
      t(s, d, "supplier").createOrReplaceTempView("c18_supplier")
      s.sql("""
        SELECT 'in_semi' AS leg, count(*) AS cnt FROM c18_customer
        WHERE c_nationkey IN (SELECT s_nationkey FROM c18_supplier
                              WHERE s_acctbal > 9000)
        UNION ALL
        SELECT 'not_in_poisoned', count(*) FROM c18_customer
        WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, 3)
                                  FROM c18_supplier)
        UNION ALL
        SELECT 'not_in_fixed', count(*) FROM c18_customer
        WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, 3)
                                  FROM c18_supplier
                                  WHERE nullif(s_nationkey, 3) IS NOT NULL)
        ORDER BY leg""")
    }),

    // c21: BROADCAST NESTED-LOOP as the RIGHT plan — the missing cell of
    // the join-strategy matrix: c9 shows how to AVOID a nested loop when
    // both non-equi sides are large (bucketize the band), but when the
    // inner side is a FIVE-ROW rate table (tier boundaries, tax brackets,
    // SLA bands — the classic range-lookup dimension), BNL over a
    // broadcast IS optimal: O(n·5) comparisons beat any bucketing
    // machinery, and there is no equi key to hash on. The plan is
    // require-gated FOR BroadcastNestedLoopJoin — the inverse of every
    // other gate in this file — because silently planning this as a
    // cartesian-with-filter or a shuffle would betray the point. At
    // 100 TB the fact side streams through codegen with the 5-row table
    // in every executor; the thing to never do is let the "tiny" side
    // grow unbounded (c9's bucketing takes over at that point).
    "c21_join_bnl_rate_table" -> ((s, d) => {
      import s.implicits._
      val tiers = Seq(
        ("negative", -10000.0, 0.0), ("low", 0.0, 3000.0),
        ("mid", 3000.0, 7000.0), ("high", 7000.0, 10000.0))
        .toDF("tier", "lo", "hi")
      val j = t(s, d, "supplier")
        .join(broadcast(tiers),
          col("s_acctbal") >= col("lo") && col("s_acctbal") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_sup"),
          dbl(sum(dec(col("s_acctbal"), 18, 2))).as("sum_bal"))
        .orderBy("tier")
      val p = j.queryExecution.executedPlan.toString
      require(p.contains("BroadcastNestedLoopJoin"),
        "rate-table lookup did not plan as broadcast nested loop:\n" + p)
      j
    }),

    // c22: AQE RUNTIME BROADCAST SWITCH — adaptive execution's
    // headline join optimization, gated end-to-end: the dim side is
    // orders filtered by an md5 predicate whose selectivity (~1.5%) is
    // INVISIBLE to static stats (a hash of the key admits no min/max or
    // histogram reasoning), so the static plan must conservatively
    // sort-merge; at runtime the filter's ACTUAL post-shuffle size
    // (~230 rows) lands under the broadcast threshold and AQE re-plans
    // the remaining stages with a broadcast hash join. BOTH halves are
    // require-gated: the pre-execution sort-merge (otherwise the demo
    // is vacuous — static stats were never fooled) and the
    // post-execution broadcast in the final adaptive plan. This is the
    // 100-TB safety net for every filter the optimizer can't model:
    // the expensive plan is only a FALLBACK until real sizes arrive.
    "c22_join_aqe_broadcast_switch" -> ((s, d) => {
      // two thresholds split the regimes AT TOY SCALE (at 100 TB the
      // default 10 MB produces the same split naturally): the STATIC
      // threshold sits below the dim's file-size-based estimate (the
      // estimator sees the unfiltered hundreds of KB — the md5 filter
      // admits no stats reasoning), the ADAPTIVE threshold above the
      // ~230-row ACTUAL post-shuffle size. 4 KB: below the smallest
      // tier's orders file size (sf0.001 is a few tens of KB), so the
      // static estimate exceeds it at EVERY sf.
      withConf(s)("spark.sql.autoBroadcastJoinThreshold" -> (4 * 1024).toString,
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> (1024 * 1024).toString) {
        val dim = t(s, d, "orders")
          .filter(substring(md5(col("o_orderkey").cast(StringType)
            .cast(BinaryType)), 1, 2) < "04") // ~1.5%, stats-invisible
          .select("o_orderkey", "o_orderpriority")
        val j = t(s, d, "lineitem")
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("item_cnt"),
            dbl(sum(dec(col("l_extendedprice"), 18, 2))).as("sum_price"))
          .orderBy("o_orderpriority")
        val staticPlan = j.queryExecution.executedPlan.toString
        require(staticPlan.contains("SortMergeJoin") ||
          staticPlan.contains("ShuffledHashJoin"),
          "static plan already broadcasts — the stats-invisible filter " +
            "stopped fooling the estimator and this demo is vacuous:\n" +
            staticPlan)
        val out = j.localCheckpoint() // materialize: AQE finalizes stages
        val finalPlan = j.queryExecution.executedPlan.toString
        require(finalPlan.contains("BroadcastHashJoin"),
          "AQE did not convert the join to broadcast at runtime:\n" + finalPlan)
        out
      }
    }),

    // c19: NULL-SAFE EQUALITY JOIN — `<=>` (IS NOT DISTINCT FROM) as the
    // JOIN KEY: unlike `=`, NULL <=> NULL is TRUE, so null-keyed rows on
    // both sides MATCH each other instead of silently dropping (the
    // "unknown bucket" join every warehouse needs when a dimension key
    // is optional). The semantic trap it demonstrates: the NULL group
    // cross-multiplies (every null-keyed left row × every null-keyed
    // right row) — here 3-keyed rows are nulled on both sides and the
    // count proves the cartesian-within-group semantics. Engine shape:
    // Catalyst treats <=> as a proper equi-join condition (EqualNullSafe
    // in the join keys — hash-partitionable, because the null bucket
    // hashes like any other value), so this stays a hash join, NOT a
    // nested-loop: the property that makes null-safe joins usable at
    // 100 TB. Fail-loud gated below.
    "c19_join_null_safe" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(nullif(col("c_nationkey"), lit(3)).as("ck"))
      val sup = t(s, d, "supplier")
        .select(nullif(col("s_nationkey"), lit(3)).as("sk"))
      val j = c.join(sup, c("ck") <=> sup("sk"))
        .groupBy(coalesce(col("ck"), lit(-1)).cast(IntegerType).as("k"))
        .agg(count(lit(1)).as("pairs"))
        .orderBy("k")
      val hasHashJoin = j.queryExecution.executedPlan.toString
      require(!hasHashJoin.contains("NestedLoop") &&
        !hasHashJoin.contains("CartesianProduct"),
        "null-safe join fell back to a nested loop:\n" + hasHashJoin)
      j
    }),

    // c20: COST-BASED JOIN REORDER — the optimizer lever the whole
    // ANALYZE TABLE machinery exists for: with table + column statistics
    // in the catalog, Catalyst's CostBasedJoinReorder rewrites a
    // badly-ordered inner-join chain into the cheapest order. The query
    // is written WORST-first (fact ⋈ fact-sized orders ⋈ tiny filtered
    // customer); with stats + CBO the optimizer must instead join
    // orders ⋈ (σ customer) first — the selective dimension shrinks the
    // build side to ~1/5 before the fact table is touched. At 100 TB
    // this is the difference between shuffling the whole fact join
    // output and shuffling the dimension-pruned slice; the reorder is
    // require-gated from the OPTIMIZED plan's bottom-most join (its leaf
    // set must be {orders, customer} — fail-loud, not hoped-for).
    // Catalog note: EXTERNAL tables over fixture-cached parquet (the c12
    // idiom — no warehouse pollution); ANALYZE runs per session and is
    // one footer+scan pass over the slice.
    "c20_join_cbo_reorder" -> ((s, d) => {
      val tag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + Integer.toHexString(d.hashCode)
      val base = cachedFixture(s, d, "c20_cbo") { p =>
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").parquet(s"$p/lineitem")
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$p/orders")
        t(s, d, "customer").select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").parquet(s"$p/customer")
      }
      val (liT, ordT, custT) = (s"graft_cbo_li_$tag", s"graft_cbo_ord_$tag",
        s"graft_cbo_cust_$tag")
      Seq((liT, "lineitem", "l_orderkey BIGINT, l_extendedprice DOUBLE"),
        (ordT, "orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING"),
        (custT, "customer", "c_custkey BIGINT, c_mktsegment STRING"))
        .foreach { case (name, sub, schema) =>
          s.sql(s"""CREATE TABLE IF NOT EXISTS $name ($schema)
            USING parquet LOCATION '$base/$sub'""")
          s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS"): Unit
        }
      withConf(s)("spark.sql.cbo.enabled" -> "true",
          "spark.sql.cbo.joinReorder.enabled" -> "true") {
        val q = s.sql(s"""
          SELECT o_orderpriority, count(*) AS item_cnt,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM $liT
          JOIN $ordT ON l_orderkey = o_orderkey
          JOIN $custT ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
        val bottomLeaves = q.queryExecution.optimizedPlan.collect {
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
        require(bottomLeaves.nonEmpty &&
          bottomLeaves.exists(ls => ls == Set("orders", "customer")),
          s"CBO did not reorder the join chain (bottom-most join leaves: " +
            s"$bottomLeaves):\n" + q.queryExecution.optimizedPlan.toString)
        // materialize under the pinned confs (the l39 idiom): the gated
        // plan must be the executed plan
        q.localCheckpoint()
      }
    })
  )

  val oracle: Map[String, String] = Map(
    "a1_scan_parquet_full" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "a2_scan_projection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity",

    "a3_scan_filter_pushdown" ->
      """SELECT CAST(year(l_shipdate)*100 + month(l_shipdate) AS BIGINT) AS ym, count(*) AS cnt
         FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
         GROUP BY 1 ORDER BY 1""",

    "a4_source_csv_roundtrip" ->
      "SELECT * FROM region ORDER BY r_regionkey",

    "a7_source_orc_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "a8_source_custom_dsv2" ->
      """SELECT CAST(range % 7 AS BIGINT) AS bucket, count(*) AS cnt,
           CAST(sum(range * range) AS BIGINT) AS sum_sq
         FROM range(0, 100000) GROUP BY 1 ORDER BY 1""",

    // every row of the bounded range must arrive exactly once across the
    // rate-limited micro-batches — the at-most/at-least-once line a
    // streaming source's offset contract exists to hold
    "a11_source_streaming_dsv2" ->
      """SELECT CAST(range AS BIGINT) AS id,
           CAST(range * range AS BIGINT) AS sq
         FROM range(0, 20000) ORDER BY id""",

    "a5_sink_partitioned_parquet" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS cnt
         FROM orders GROUP BY 1 ORDER BY 1""",

    // the pruned leaf's VALUES are the correctness claim (the pruning
    // itself is require-gated in-plan); k comes from the same JSON the
    // fixture encoded into the struct
    "a14_nested_column_pruning" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",

    // both halves of the split tree must arrive (recursion) and nothing
    // else (glob) — the full per-year profile is exactly that claim
    "a13_source_glob_filtered" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY 1 ORDER BY 1""",

    // page = row_number bucket over the same unique-key order — keyset
    // pages and rank pages coincide exactly when the cursor key is unique
    "f4_keyset_pagination" ->
      """SELECT CAST((rn - 1) // 50 + 1 AS INTEGER) AS page,
           o_orderkey, o_custkey, o_totalprice
         FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                 row_number() OVER (ORDER BY o_orderkey) AS rn
               FROM orders WHERE o_orderstatus = 'O')
         WHERE rn <= 150 ORDER BY o_orderkey""",

    // the permutation proof: count, distinct count, min/max, and the
    // closed-form sum pin row_index to exactly [0, n); the two boolean
    // gates (single file, fs-length match) are computed Spark-side and
    // must land as literal true
    "a22_source_file_metadata" ->
      """SELECT 'orders.parquet' AS file_name,
           CAST(1 AS BIGINT) AS n_files,
           count(*) AS n_rows,
           count(*) AS n_distinct_idx,
           CAST(0 AS BIGINT) AS min_idx,
           count(*) - 1 AS max_idx,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS sum_idx,
           true AS size_matches_fs
         FROM orders""",

    // roundtrip truth = the same aggregate on the source table; the codec
    // claims live in the require-gated footer check and the oracled
    // size-ordering boolean
    "a23_sink_codec_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           true AS zstd_smaller
         FROM orders GROUP BY 1 ORDER BY 1""",

    // the unnamed columns must arrive as their DECLARED defaults —
    // that contract is the whole key
    "a21_sink_insert_defaults" ->
      """SELECT o_orderkey AS k, o_orderstatus AS st,
           false AS flagged, 'ingest' AS src
         FROM orders WHERE o_orderkey < 100 ORDER BY k""",

    // the executed DELETE's post-state == the source table minus the
    // purged key range
    "a25_catalog_cow_delete" ->
      """SELECT o_orderstatus AS st, count(*) AS n_orders,
           min(o_orderkey) AS min_k,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           true AS purged
         FROM orders WHERE o_orderkey >= 1500
         GROUP BY 1 ORDER BY 1""",

    // each snapshot reconstructed from the mutation history: v0 = seed,
    // v1 = seed minus the purged range, v2 = current = v1 + the insert
    "a27_catalog_time_travel" ->
      """WITH v0 AS (
           SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         v1 AS (SELECT * FROM v0 WHERE k >= 400),
         ins AS (
           SELECT o_orderkey + 100000 AS k,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200),
         v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM ins),
         legs AS (
           SELECT 'v0' AS leg, count(*) AS n_rows, min(k) AS min_k,
                  max(k) AS max_k, CAST(sum(p) AS DOUBLE) AS sum_total FROM v0
           UNION ALL
           SELECT 'v1', count(*), min(k), max(k), CAST(sum(p) AS DOUBLE) FROM v1
           UNION ALL
           SELECT 'v2', count(*), min(k), max(k), CAST(sum(p) AS DOUBLE) FROM v2
           UNION ALL
           SELECT 'current', count(*), min(k), max(k), CAST(sum(p) AS DOUBLE)
           FROM v2)
         SELECT * FROM legs ORDER BY leg""",

    // the three-clause merge reconstructed: k<300 deleted (no source
    // match), 300-599 untouched, 600-1199 bumped, shifted [0,600) inserted
    "a30_catalog_merge_exec" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         merged AS (
           SELECT k, st,
                  CASE WHEN k >= 600 THEN p + CAST(2.50 AS DECIMAL(3,2))
                       ELSE p END AS p
           FROM seed WHERE k >= 300
           UNION ALL
           SELECT o_orderkey + 200000, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(18,2))
           FROM orders WHERE o_orderkey < 600),
         legs AS (
           SELECT 'before' AS leg, st, count(*) AS n_rows,
                  CAST(sum(p) AS DOUBLE) AS sum_total FROM seed GROUP BY st
           UNION ALL
           SELECT 'after', st, count(*), CAST(sum(p) AS DOUBLE)
           FROM merged GROUP BY st)
         SELECT * FROM legs ORDER BY leg, st""",

    // log-prefix replay reconstructed: v1 = delete applied, v2 = update
    // over v1, current = v2; v0 still shows the deleted rows
    "a33_catalog_mor_travel" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         s1 AS (SELECT * FROM seed WHERE k % 10 <> 7),
         s2 AS (
           SELECT k, st,
                  CASE WHEN nullif(k % 7, 0) >= 3
                       THEN p + CAST(1.25 AS DECIMAL(3,2)) ELSE p END AS p
           FROM s1),
         legs AS (
           SELECT 'v0' AS leg, st, count(*) AS n_rows,
                  CAST(sum(p) AS DOUBLE) AS sum_total FROM seed GROUP BY st
           UNION ALL
           SELECT 'v1', st, count(*), CAST(sum(p) AS DOUBLE) FROM s1 GROUP BY st
           UNION ALL
           SELECT 'v2', st, count(*), CAST(sum(p) AS DOUBLE) FROM s2 GROUP BY st
           UNION ALL
           SELECT 'v3_current', st, count(*), CAST(sum(p) AS DOUBLE)
           FROM s2 GROUP BY st)
         SELECT * FROM legs ORDER BY leg, st""",

    // the engine-enforced layout facts as literals (one shard per
    // cluster, sorted blocks) + the content rollup
    "a36_sink_required_distribution" ->
      """SELECT o_orderkey % 8 AS ckey, count(*) AS n_rows,
           CAST(1 AS BIGINT) AS n_files, true AS sorted,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM orders WHERE o_orderkey < 3000
         GROUP BY 1 ORDER BY 1""",

    // the same self-join through the flat table: pruning is an
    // optimization, never a result dependency
    "c24_join_runtime_file_prune" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         dim AS (
           SELECT o_orderkey AS k FROM orders
           WHERE o_orderstatus IN ('O', 'F') AND o_orderkey < 300)
         SELECT st, count(*) AS n_rows, CAST(sum(p) AS DOUBLE) AS sum_total
         FROM seed JOIN dim USING (k)
         GROUP BY 1 ORDER BY 1""",

    // the three cuts of the id range, sq = id² — pushed or not, the
    // rows must be identical
    "f5_scan_topn_pushdown" ->
      """SELECT 'a_first' AS leg, i AS id, i * i AS sq
         FROM (SELECT unnest(range(0, 7)) AS i)
         UNION ALL
         SELECT 'b_tail', i, i * i FROM (SELECT unnest(range(99000, 99005)) AS i)
         UNION ALL
         SELECT 'c_desc', i, i * i FROM (SELECT unnest(range(99997, 100000)) AS i)
         ORDER BY leg, id""",

    // the source's closed form from generate_series — the engine-side
    // zero-shuffle plan must produce exactly this arithmetic
    "c23_join_storage_partitioned" ->
      """WITH a AS (
           SELECT g.grp, k.k, (g.grp * 1000003 + k.k * 7919) % 100000 AS v
           FROM (SELECT unnest(range(0, 8)) AS grp) g,
                (SELECT unnest(range(0, 2000)) AS k) k),
         b AS (
           SELECT g.grp, (g.grp * 1000003 + k.k * 7919) % 100000 AS bv
           FROM (SELECT unnest(range(0, 8)) AS grp) g,
                (SELECT unnest(range(0, 25)) AS k) k)
         SELECT a.grp, count(*) AS n_pairs,
                CAST(sum(a.v) AS BIGINT) AS sum_av,
                CAST(sum(b.bv) AS BIGINT) AS sum_bv
         FROM a JOIN b ON a.grp = b.grp
         GROUP BY 1 ORDER BY 1""",

    // both legs over the same k<1200 slice: the manifest-served min/max
    // must equal the row-scan truth exactly
    "a35_scan_agg_pushdown" ->
      """WITH seed AS (
           SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 1200)
         SELECT 'fallback' AS leg, min(k) AS min_k, max(k) AS max_k,
                CAST(sum(k) AS BIGINT) AS sum_k FROM seed
         UNION ALL
         SELECT 'pushed', min(k), max(k), CAST(NULL AS BIGINT) FROM seed
         ORDER BY leg""",

    // after the swap the table IS the replacement SELECT — min_k ≥ 1000
    // proves the seed content is fully gone, not merged
    "a34_catalog_rtas_atomic" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
           min(o_orderkey) AS min_k,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
         GROUP BY 1 ORDER BY 1""",

    // the CTAS round-trip truth: the committed table must reproduce the
    // SELECT exactly, including the NULL-encoded priority column
    "a32_catalog_ctas_atomic" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
           count(nullif(o_orderpriority, '1-URGENT')) AS n_prio,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM orders WHERE o_orderkey < 3000
         GROUP BY 1 ORDER BY 1""",

    // the delta-log fold reconstructed statement by statement: ops1 =
    // the delete's tombstones, ops2 = the update's patches (3VL: k%7=0
    // rows untouched), ops3 = the merge's U/I/D split, 'after' = the
    // folded final state
    "a31_catalog_mor_dml" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         s1 AS (SELECT * FROM seed WHERE k % 10 <> 7),
         s2 AS (
           SELECT k, st,
                  CASE WHEN nullif(k % 7, 0) >= 3
                       THEN p + CAST(1.25 AS DECIMAL(3,2)) ELSE p END AS p
           FROM s1),
         src AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200
           UNION ALL
           SELECT o_orderkey + 300000, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(18,2))
           FROM orders WHERE o_orderkey < 400),
         m_upd AS (
           SELECT s2.k, s2.st, s2.p + CAST(2.50 AS DECIMAL(3,2)) AS p
           FROM s2 WHERE s2.k IN (SELECT k FROM src)),
         m_ins AS (
           SELECT k, st, p FROM src WHERE k NOT IN (SELECT k FROM s2)),
         m_del AS (
           SELECT k FROM s2
           WHERE k NOT IN (SELECT k FROM src) AND k < 200),
         final AS (
           SELECT * FROM m_upd
           UNION ALL
           SELECT * FROM s2 WHERE k NOT IN (SELECT k FROM src)
                              AND k NOT IN (SELECT k FROM m_del)
           UNION ALL
           SELECT * FROM m_ins),
         legs AS (
           SELECT 'after' AS leg, st, count(*) AS n_rows,
                  CAST(sum(p) AS DOUBLE) AS chk FROM final GROUP BY st
           UNION ALL
           SELECT 'ops1', 'D', count(*), CAST(sum(k) AS DOUBLE)
           FROM seed WHERE k % 10 = 7
           UNION ALL
           SELECT 'ops2', 'U', count(*), CAST(sum(k) AS DOUBLE)
           FROM s1 WHERE nullif(k % 7, 0) >= 3
           UNION ALL
           SELECT 'ops3', 'U', count(*), CAST(sum(k) AS DOUBLE) FROM m_upd
           UNION ALL
           SELECT 'ops3', 'I', count(*), CAST(sum(k) AS DOUBLE) FROM m_ins
           UNION ALL
           SELECT 'ops3', 'D', count(*), CAST(sum(k) AS DOUBLE) FROM m_del)
         SELECT * FROM legs ORDER BY leg, st""",

    // the engine's own CASE rewrite: NULL-pred rows (k%7=0) untouched
    "a29_catalog_update_exec" ->
      """WITH seed AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 1200),
         upd AS (
           SELECT k, st,
                  CASE WHEN nullif(k % 7, 0) >= 3
                       THEN p + CAST(1.25 AS DECIMAL(3,2)) ELSE p END AS p
           FROM seed),
         legs AS (
           SELECT 'before' AS leg, st, count(*) AS n_rows,
                  CAST(sum(p) AS DOUBLE) AS sum_total FROM seed GROUP BY st
           UNION ALL
           SELECT 'after', st, count(*), CAST(sum(p) AS DOUBLE)
           FROM upd GROUP BY st)
         SELECT * FROM legs ORDER BY leg, st""",

    // the v0→v2 feed is exactly {the purged range, the insert batch}
    "a28_catalog_change_feed" ->
      """WITH del AS (
           SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey < 400),
         ins AS (
           SELECT o_orderkey + 100000 AS k,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200)
         SELECT 'D' AS op, count(*) AS n_rows, min(k) AS min_k,
                max(k) AS max_k, CAST(sum(p) AS DOUBLE) AS sum_total FROM del
         UNION ALL
         SELECT 'I', count(*), min(k), max(k), CAST(sum(p) AS DOUBLE) FROM ins
         ORDER BY op""",

    // seeded rows carry NULL in both added columns (short-row padding);
    // inserted rows reproduce the derived chan/prio including real NULLs
    "a26_catalog_schema_evolution" ->
      """WITH seeded AS (
           SELECT o_orderkey AS k, o_totalprice AS total,
                  CAST(NULL AS VARCHAR) AS chan, CAST(NULL AS BIGINT) AS prio
           FROM orders WHERE o_orderkey < 3000),
         inserted AS (
           SELECT o_orderkey, o_totalprice,
                  CASE WHEN o_orderkey % 3 = 0 THEN NULL
                       ELSE 'ch_' || CAST(o_orderkey % 3 AS VARCHAR) END,
                  nullif(o_orderkey % 5, 0)
           FROM orders WHERE o_orderkey >= 3000 AND o_orderkey < 4500),
         allrows AS (SELECT * FROM seeded UNION ALL SELECT * FROM inserted)
         SELECT CASE WHEN k < 3000 THEN 'seeded' ELSE 'inserted' END AS src,
                chan, count(*) AS n_rows, count(prio) AS n_prio,
                CAST(sum(prio) AS BIGINT) AS sum_prio,
                CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM allrows GROUP BY 1, 2 ORDER BY src, chan NULLS FIRST""",

    // byte-range parsing truth: the same rollup from the source table —
    // a one-byte layout slip breaks keys, status, and money at once
    "a24_source_fixed_width" ->
      """SELECT o_orderstatus AS st, count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 4000
         GROUP BY 1 ORDER BY 1""",

    // the log rendering is fixture plumbing; the oracled truth is the
    // per-status rollup the parsed lines must reproduce exactly
    "a20_source_text_logs" ->
      """SELECT o_orderstatus AS st, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 2000
         GROUP BY 1 ORDER BY 1""",

    // 3 planted corrupt lines: permissive keeps+quarantines them,
    // dropmalformed removes exactly them, clean money survives intact
    "a17_source_csv_malformed" ->
      """SELECT count(*) + 3 AS n_permissive,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price_clean,
           count(*) AS n_dropmalformed
         FROM orders WHERE o_orderkey < 1000""",

    // the loader may not transcode/truncate/pad: sha256 + byte length of
    // the source text ARE the binary contract (ASCII corpus: strlen =
    // octet length)
    "a16_source_binary_files" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
           sha256(text) AS sha
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    // the reorder is plan-shape machinery (require-gated in-plan); the
    // oracled truth is the join result it must leave untouched
    "c20_join_cbo_reorder" ->
      """SELECT o_orderpriority, count(*) AS item_cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // the bloom is footer plumbing (require-gated from parquet metadata);
    // the oracled truth is the point lookup it must answer exactly
    "a19_sink_parquet_bloom" ->
      """SELECT o_custkey, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders WHERE o_custkey = 42
         GROUP BY 1 ORDER BY 1""",

    // the morton layout is write-side plumbing (either-dimension pruning
    // is require-gated from measured per-file rectangles); the oracled
    // truth is the 2-D slice aggregate it must reproduce
    "a18_sink_zorder_2d" ->
      """SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-01-01'
           AND o_orderdate < TIMESTAMP '1999-01-01'
           AND o_custkey < 400
         GROUP BY 1 ORDER BY 1""",

    // the runtime re-plan is gated Spark-side (both halves); the oracled
    // truth is the join result the switch must leave untouched
    "c22_join_aqe_broadcast_switch" ->
      """SELECT o_orderpriority, count(*) AS item_cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '04'
         GROUP BY 1 ORDER BY 1""",

    // the plan choice is gated Spark-side; the oracled truth is the
    // range-lookup classification itself
    "c21_join_bnl_rate_table" ->
      """SELECT tier, count(*) AS n_sup,
           CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM supplier
         JOIN (VALUES ('negative', -10000.0, 0.0), ('low', 0.0, 3000.0),
                      ('mid', 3000.0, 7000.0), ('high', 7000.0, 10000.0))
              AS tiers(tier, lo, hi)
           ON s_acctbal >= lo AND s_acctbal < hi
         GROUP BY tier ORDER BY tier""",

    // IS NOT DISTINCT FROM is the portable spelling of <=>; the NULL
    // group's cross-multiplication is the semantic under test
    "c19_join_null_safe" ->
      """SELECT CAST(coalesce(ck, -1) AS INTEGER) AS k, count(*) AS pairs
         FROM (SELECT nullif(c_nationkey, 3) AS ck FROM customer) c
         JOIN (SELECT nullif(s_nationkey, 3) AS sk FROM supplier) s
           ON c.ck IS NOT DISTINCT FROM s.sk
         GROUP BY 1 ORDER BY 1""",

    // the clustered layout is write-side plumbing; the oracled truth is
    // the range-filtered weekly rollup it must reproduce exactly
    "a15_sink_sorted_clustered" ->
      """SELECT epoch_us(date_trunc('week', l_shipdate)) AS wk_us,
           count(*) AS cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-06-01'
           AND l_shipdate < TIMESTAMP '2000-08-01'
         GROUP BY 1 ORDER BY 1""",

    // static overwrite would have deleted 1995-2000 — identical per-year
    // counts plus the doubled-2001 sum prove the dynamic contract
    "a12_sink_dynamic_overwrite" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS cnt,
           CAST(sum(CAST(CASE WHEN year(o_orderdate) = 2001
                              THEN o_totalprice * 2
                              ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a10_sink_custom_dsv2" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a6_source_json_lines" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",

    // gen1 (even keys) never carried o_totalprice, so it reads back NULL
    "a9_source_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 2 <> 0 THEN o_totalprice END AS o_totalprice
         FROM orders ORDER BY o_orderkey""",

    "b1_project_derived" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charge""",

    "b2_filter_complex" ->
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part
         WHERE p_type IN ('PROMO','ECONOMY') AND p_size BETWEEN 10 AND 30
           AND (p_brand LIKE 'Brand#1%' OR p_brand LIKE 'Brand#2%')
           AND NOT (p_retailprice > 990.0)
         ORDER BY p_partkey""",

    "b3_filter_threevalued" ->
      """SELECT c_custkey, a, b, (a = b) AS eq3vl, (a IS NOT DISTINCT FROM b) AS nseq
         FROM (SELECT c_custkey, nullif(c_nationkey % 5, 0) AS a, nullif(c_nationkey % 3, 0) AS b FROM customer) t
         ORDER BY c_custkey""",

    // DuckDB's spelling of subtractive projection is EXCLUDE
    "b4_project_star_except" ->
      """SELECT * EXCLUDE (l_extendedprice, l_discount, l_tax, l_shipdate)
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_quantity, l_returnflag, l_linestatus""",

    "c1_join_broadcast_equi" ->
      """SELECT c_mktsegment, count(*) AS order_cnt
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "c2_join_shuffle_equi" ->
      """SELECT o_orderpriority,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           count(*) AS item_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "c12_join_bucketed" ->
      """SELECT o_orderpriority,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           count(*) AS item_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    // the salt is engine-internal and result-invariant: the oracle is
    // the PLAIN equi-join the salted plan must be indistinguishable from
    "c14_join_salted_skew" ->
      """SELECT c_mktsegment, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1 ORDER BY 1""",

    // identical recursion in DuckDB's WITH RECURSIVE (integer division
    // spelled // there, div in Spark)
    "g6_recursive_cte" ->
      """WITH RECURSIVE chain AS (
           SELECT c_custkey AS key, c_custkey AS root, 0 AS depth
           FROM customer WHERE c_custkey < 10
           UNION ALL
           SELECT c.c_custkey AS key, ch.root AS root, ch.depth + 1 AS depth
           FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.key
           WHERE c.c_custkey >= 10
         )
         SELECT root, CAST(count(*) AS BIGINT) AS n_desc,
                CAST(max(depth) AS BIGINT) AS max_depth
         FROM chain GROUP BY root ORDER BY root""",

    // the identical LATERAL statement runs on DuckDB verbatim
    "c16_join_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM customer c JOIN LATERAL (
           SELECT o_orderkey, o_totalprice
           FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
         ) o ON true
         ORDER BY c.c_custkey""",

    // the hint changes the physical strategy, never the result: plain
    // join SQL (the strategy itself is require-gated in-query)
    "c15_join_hint_shuffle_hash" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "c3_join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
         FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY 1""",

    "c4_join_right_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
         FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "c5_join_full_outer" ->
      """SELECT coalesce(c.ck, s.sk) AS nationkey, c.c_cnt, s.s_cnt
         FROM (SELECT c_nationkey AS ck, count(*) AS c_cnt FROM customer WHERE c_nationkey < 15 GROUP BY 1) c
         FULL OUTER JOIN (SELECT s_nationkey AS sk, count(*) AS s_cnt FROM supplier WHERE s_nationkey >= 10 GROUP BY 1) s
         ON c.ck = s.sk
         ORDER BY 1""",

    "c6_join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "c7_join_left_anti" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '2001-01-01')
         ORDER BY c_custkey""",

    "c8_join_cross" ->
      """SELECT a.r_name AS r1_name, b.r_name AS r2_name
         FROM region a CROSS JOIN region b ORDER BY 1, 2""",

    "c9_join_theta_band" ->
      """SELECT a.p_partkey AS p1, b.p_partkey AS p2, a.p_brand AS brand1,
           a.p_retailprice AS price1, b.p_retailprice AS price2
         FROM part a JOIN part b ON a.p_brand = b.p_brand
           AND a.p_partkey < b.p_partkey
           AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
         ORDER BY 1, 2""",

    "c10_join_asof" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
           FROM events e LEFT JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
         WHERE rn = 1 ORDER BY event_id""",

    "c13_join_asof_native" ->
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
           FROM events e LEFT JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
         WHERE rn = 1 ORDER BY event_id""",

    "c11_join_interval_self" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS a_user
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
           AND a.event_id < b.event_id
         ORDER BY 1, 2""",

    "f1_sort_multikey_nulls" ->
      """SELECT s_suppkey, s_name, CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END AS bal
         FROM supplier ORDER BY bal DESC NULLS LAST, s_suppkey""",

    "f2_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 10 OFFSET 20""",

    "f3_topk_global" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 10""",

    "g1_union_all" ->
      """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION ALL
         SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
         ORDER BY o_orderkey""",

    "g2_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY 1""",

    "g3_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY 1""",

    "g4_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000 ORDER BY 1""",

    "g5_intersect_except_all" ->
      """SELECT 'intersect_all' AS tag, event_type FROM (
           (SELECT event_type FROM events WHERE user_id % 3 = 0)
           INTERSECT ALL
           (SELECT event_type FROM events WHERE user_id % 3 = 1)) ia
         UNION ALL
         SELECT 'except_all' AS tag, event_type FROM (
           (SELECT event_type FROM events WHERE user_id % 3 = 0)
           EXCEPT ALL
           (SELECT event_type FROM events WHERE user_id % 3 = 1)) ea
         ORDER BY tag, event_type""",

    // name-bound union with the missing column null-filled — the
    // explicit NULL projection is its relational definition
    "g8_union_by_name_missing" ->
      """SELECT 'c' AS src, c_custkey AS id, c_name AS name, c_acctbal AS bal
         FROM customer
         UNION ALL
         SELECT 's', s_suppkey, s_name, NULL FROM supplier
         ORDER BY src, id""",

    // the desugared plain-SQL spelling of the pipe chain — semantic
    // equivalence of the two spellings is exactly what this key claims
    "g7_sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS item_cnt,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    // identical three-valued semantics in DuckDB — the poisoned leg's 0
    // is the portable truth of the trap
    "c18_join_in_subquery" ->
      """SELECT 'in_semi' AS leg, count(*) AS cnt FROM customer
         WHERE c_nationkey IN (SELECT s_nationkey FROM supplier
                               WHERE s_acctbal > 9000)
         UNION ALL
         SELECT 'not_in_poisoned', count(*) FROM customer
         WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, 3)
                                   FROM supplier)
         UNION ALL
         SELECT 'not_in_fixed', count(*) FROM customer
         WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, 3)
                                   FROM supplier
                                   WHERE nullif(s_nationkey, 3) IS NOT NULL)
         ORDER BY leg""",

    // verbatim statement — DuckDB decorrelates the same way
    "c17_scalar_subquery" ->
      """SELECT c_custkey,
           (SELECT count(*) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
         FROM customer c
         WHERE (SELECT count(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) >= 1
         ORDER BY c_custkey"""
  )
}
