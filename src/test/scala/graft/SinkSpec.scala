package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Commit-protocol behaviour of the custom DSv2 write connector (a10):
  * the read-back CONTENT is oracled; what needs pinning here is the
  * failure contract — an aborted job must not publish a commit marker,
  * and unsupported rows must fail loudly rather than corrupt a shard. */
class SinkSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(tag: String): String = {
    val d = Tables.scratch(spark, tag, "sinkspec")
    new File(d).mkdirs()
    d
  }

  test("successful write publishes the job-commit marker and only final shards") {
    import spark.implicits._
    val dir = freshDir("ok")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(3)
      .write.format("graft.sources.CsvDirSink").option("path", dir)
      .mode("append").save()
    assert(new File(dir, "_graft_committed").exists(), "marker missing")
    val files = new File(dir).list().toSet
    assert(files.forall(f => f == "_graft_committed" || f.matches("part-\\d+\\.tsv")),
      s"stray files: $files")
    val back = spark.read.option("sep", "\t")
      .option("pathGlobFilter", "part-*.tsv")
      .schema("k LONG, v STRING").csv(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("failed job publishes NO commit marker (abort path)") {
    import spark.implicits._
    val dir = freshDir("abort")
    val boom = udf((k: Long) => {
      if (k == 2L) throw new RuntimeException("planted task failure")
      k
    })
    intercept[Exception] {
      Seq(1L, 2L, 3L).toDF("k")
        .repartition(3)
        .select(boom(col("k")).as("k"))
        .write.format("graft.sources.CsvDirSink").option("path", dir)
        .mode("append").save()
    }
    assert(!new File(dir, "_graft_committed").exists(),
      "aborted job must not publish the commit marker")
  }

  test("streaming leg: epochs publish once across a checkpointed restart") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = freshDir("stream")
    val (in, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def addBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("k LONG, v STRING").parquet(in)
        .writeStream.format("graft.sources.CsvDirSink")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addBatch(0 until 10)
    runOnce() // epoch 0 publishes ids 0-9
    addBatch(10 until 15)
    runOnce() // restart from the checkpoint: must publish ONLY the new file
    val files = new File(outDir).list().toSet
    assert(files.exists(_.matches("_graft_epoch_\\d+")), s"no epoch marker: $files")
    assert(!files.exists(_.startsWith("_staged-")), s"staged leftovers: $files")
    val back = spark.read.option("sep", "\t")
      .option("pathGlobFilter", "part-*.tsv")
      .schema("k LONG, v STRING").csv(outDir)
      .collect().map(_.getLong(0)).sorted
    assert(back.toSeq == (0L until 15L),
      s"restart re-emitted or dropped rows: ${back.mkString(",")}")
  }

  test("streaming leg: a replayed epoch commit is discarded (first-commit-wins)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // drive the StreamingWrite protocol directly: the micro-batch engine
    // re-runs a whole epoch when it crashes after publishing to the sink
    // but before writing its own checkpoint — the second commit of the
    // SAME epoch id must be a no-op for downstream readers
    val dir = freshDir("replay")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k LONG, v STRING")
    val sw = new graft.sources.CsvDirStreamingWrite(dir, schema)
    def runEpoch(epochId: Long, taskId: Long, v: String): Unit = {
      val w = sw.createStreamingWriterFactory(null).createWriter(0, taskId, epochId)
      w.write(InternalRow(1L, UTF8String.fromString(v)))
      val msg = w.commit()
      sw.commit(epochId, Array(msg))
    }
    runEpoch(7L, 1L, "first")
    runEpoch(7L, 2L, "replayed") // same epoch, retried task attempt
    val files = new File(dir).list().toSet
    assert(files == Set("part-7-0.tsv", "_graft_epoch_7"),
      s"replay leaked files: $files")
    val content = scala.io.Source.fromFile(new File(dir, "part-7-0.tsv")).mkString
    assert(content == "1\tfirst\n", s"replay overwrote the first commit: $content")

    // crash window: an attempt that renamed shards but died BEFORE the
    // marker write leaves orphans; the replay (now fewer partitions) must
    // delete them before publishing, or they'd read as valid rows
    val orphan = new File(dir, "part-9-5.tsv")
    java.nio.file.Files.writeString(orphan.toPath, "99\tdead-attempt\n")
    runEpoch(9L, 3L, "recovered")
    val after = new File(dir).list().toSet
    assert(!after.contains("part-9-5.tsv"),
      s"crashed attempt's orphan shard survived the replay: $after")
    assert(after.contains("part-9-0.tsv") && after.contains("_graft_epoch_9"),
      s"replayed epoch did not publish: $after")
  }

  test("parquet lake leg: hive layout + first-commit-wins epoch replay") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir("lake_replay")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("w LONG, event_type STRING, v DOUBLE")
    val sw = new graft.sources.ParquetDirStreamingWrite(dir, schema, "event_type")
    def runEpoch(epochId: Long, taskId: Long, rows: Seq[(Long, String, Double)]): Unit = {
      val w = sw.createStreamingWriterFactory(null).createWriter(0, taskId, epochId)
      rows.foreach { case (k, et, v) =>
        w.write(InternalRow(k, UTF8String.fromString(et), v))
      }
      sw.commit(epochId, Array(w.commit()))
    }
    runEpoch(7L, 1L, Seq((1L, "click", 1.5), (2L, "view", 2.5)))
    runEpoch(7L, 2L, Seq((9L, "click", 9.9))) // replayed epoch: must be discarded
    val top = new File(dir).list().toSet
    assert(top == Set("event_type=click", "event_type=view", "_graft_epoch_7"),
      s"unexpected layout: $top")
    assert(!top.exists(_.startsWith("_staged-")), s"staged leftovers: $top")
    val back = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("w"), r.getAs[String]("event_type"),
        r.getAs[Double]("v"))).toSet
    assert(back == Set((1L, "click", 1.5), (2L, "view", 2.5)),
      s"replay overwrote the first commit or partition column broke: $back")

    // crash window: shards renamed but marker never written — the replay
    // must sweep the dead attempt's orphans from the value dirs first
    val orphan = new File(dir, "event_type=click/part-9-5-0.parquet")
    java.nio.file.Files.writeString(orphan.toPath, "not-a-parquet-footer")
    runEpoch(9L, 3L, Seq((3L, "click", 3.5)))
    assert(!orphan.exists(), "crashed attempt's orphan shard survived the replay")
    assert(new File(dir, "_graft_epoch_9").exists(), "replayed epoch did not publish")
    assert(spark.read.parquet(dir).count() == 3,
      "epoch 9 rows missing or orphan leaked into the read set")
  }

  test("parquet lake leg: downstream scan partition-prunes on the hive layout") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir("lake_prune")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("w LONG, event_type STRING, v DOUBLE")
    val sw = new graft.sources.ParquetDirStreamingWrite(dir, schema, "event_type")
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 1L, 0L)
    Seq((1L, "click", 1.0), (2L, "view", 2.0), (3L, "purchase", 3.0))
      .foreach { case (k, et, v) => w.write(InternalRow(k, UTF8String.fromString(et), v)) }
    sw.commit(0L, Array(w.commit()))
    val q = spark.read.parquet(dir).filter(col("event_type") === "view")
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "filter on the hive partition column must become a PartitionFilter")
    assert(q.collect().map(_.getAs[Long]("w")).toSeq == Seq(2L))
  }

  test("nulls and unsupported types are rejected loudly") {
    import spark.implicits._
    val dirN = freshDir("nulls")
    val exN = intercept[Exception] {
      Seq(Some(1L), None).toDF("k")
        .write.format("graft.sources.CsvDirSink").option("path", dirN)
        .mode("append").save()
    }
    assert(exN.getMessage != null)
    val dirT = freshDir("types")
    intercept[Exception] {
      Seq(1).toDF("k") // IntegerType is not in the supported long/double/string set
        .write.format("graft.sources.CsvDirSink").option("path", dirT)
        .mode("append").save()
    }
    assert(!new File(dirT, "_graft_committed").exists())
  }

  test("CowDeleteCatalog: executable DELETE prunes files, is idempotent, and refuses inexact predicates") {
    val root = freshDir("cow")
    val tbl = new File(root, "t"); tbl.mkdirs()
    // three files with known k-ranges: [1,3], [10,12] (st=x), [20,22] (st=y)
    def write(i: Int, lo: Int, hi: Int, st: String): Unit =
      java.nio.file.Files.write(new File(tbl, s"part-$i-$lo-$hi.csv").toPath,
        java.util.Arrays.asList((lo to hi).map(k => s"$k,$st,1.5"): _*))
    write(0, 1, 3, "x"); write(1, 10, 12, "x"); write(2, 20, 22, "y")
    val cat = Tables.catalog(spark, "cow_spec", classOf[graft.sources.CowDeleteCatalog], root)
    val untouched = new File(tbl, "part-2-20-22.csv")
    val mt0 = untouched.lastModified
    spark.sql(s"DELETE FROM $cat.t WHERE k < 11")
    // rows 1-3 and 10 gone; file 2 physically untouched; file 0 removed
    val survivors = spark.table(s"$cat.t").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(11L, 12L, 20L, 21L, 22L), s"got $survivors")
    assert(!new File(tbl, "part-0-1-3.csv").exists(), "emptied file must be removed")
    assert(untouched.lastModified == mt0, "non-intersecting file was rewritten")
    // stats refresh: the rewritten middle file re-declares its range
    assert(new File(tbl, "part-1-11-12.csv").exists(), "rewritten file stats not refreshed")
    // idempotence: the same DELETE again touches nothing (stats no longer intersect)
    val mts = graft.sources.CowTable.manifest(tbl)
      .map { case (f, _, _) => f.getName -> f.lastModified }.toMap
    spark.sql(s"DELETE FROM $cat.t WHERE k < 11")
    graft.sources.CowTable.manifest(tbl).foreach { case (f, _, _) =>
      assert(mts(f.getName) == f.lastModified, s"${f.getName} rewritten on re-delete")
    }
    // a predicate the METADATA path cannot apply exactly falls back to
    // the row-level CoW rewrite (a29's SupportsRowLevelOperations) and
    // still deletes EXACTLY the matching rows — before a29 landed, the
    // engine raised here; executing is the lakehouse-correct upgrade
    spark.sql(s"DELETE FROM $cat.t WHERE st = 'x'")
    assert(spark.table(s"$cat.t").collect().map(_.getLong(0)).toSet ==
      Set(20L, 21L, 22L), "row-level fallback deleted the wrong rows")
    // TRUNCATE routes through SupportsDeleteV2's default truncateTable
    // (deleteWhere(ALWAYS_TRUE)) — the same CoW path, delete-everything case
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(spark.table(s"$cat.t").count() == 0, "TRUNCATE left rows behind")
    assert(graft.sources.CowTable.manifest(tbl).isEmpty, "TRUNCATE left data files")
  }

  test("CowVersions: name re-use cannot shadow history; vacuum expires exactly the dead copies") {
    val root = freshDir("cow_tt")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-1-2.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,a,2.5"))
    java.nio.file.Files.write(new File(tbl, "part-1-10-11.csv").toPath,
      java.util.Arrays.asList("10,b,1.0", "11,b,2.0"))
    val cat = Tables.catalog(spark, "cow_tt", classOf[graft.sources.CowDeleteCatalog], root)
    graft.sources.CowVersions.enable(tbl) // v0
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 10") // v1: part-1 retired
    // recreate the EXACT file name the delete just retired: idxBase
    // re-uses the freed index 1 and the k-range matches — the
    // collision the rv<version> archive prefix exists for
    import spark.implicits._
    Seq((10L, "c", 9.0), (11L, "c", 9.5)).toDF("k", "st", "total")
      .coalesce(1).createOrReplaceTempView("tt_ins")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM tt_ins") // v2
    assert(new File(tbl, "part-1-10-11.csv").isFile,
      "test setup: the insert was expected to recreate part-1-10-11.csv")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 10") // v3: retired AGAIN
    def stOf(v: Long, k: Long): String =
      spark.sql(s"SELECT st FROM $cat.t VERSION AS OF $v WHERE k = $k")
        .collect().head.getString(0)
    def keys(v: Long): Set[Long] =
      spark.sql(s"SELECT k FROM $cat.t VERSION AS OF $v")
        .collect().map(_.getLong(0)).toSet
    assert(keys(0) == Set(1L, 2L, 10L, 11L) && stOf(0, 10) == "b",
      "v0 must read the ORIGINAL copy of the re-used name")
    assert(keys(2) == Set(1L, 2L, 10L, 11L) && stOf(2, 10) == "c",
      "v2 must read the SECOND copy of the re-used name")
    assert(keys(1) == Set(1L, 2L) && keys(3) == Set(1L, 2L))
    assert(spark.table(s"$cat.t").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "current must equal the newest snapshot")
    // a snapshot is read-only
    intercept[Exception] {
      spark.sql(s"DELETE FROM (SELECT * FROM $cat.t VERSION AS OF 0) WHERE k = 1") }
    // vacuum keep=2: v0/v1 expire (and only their archive copy rv1 dies)
    graft.sources.CowVersions.vacuum(tbl, 2)
    intercept[Exception] { keys(0) }
    intercept[Exception] { keys(1) }
    assert(keys(2) == Set(1L, 2L, 10L, 11L) && stOf(2, 10) == "c",
      "vacuum must not touch kept snapshots")
    val archived = new File(tbl, "_archive").list().toSeq
    assert(archived.exists(_.startsWith("rv3-")) && !archived.exists(_.startsWith("rv1-")),
      s"vacuum kept/dropped the wrong archive copies: $archived")
  }

  test("row-level UPDATE prunes to affected files via the runtime group filter") {
    // a29's file-level groups: the engine's group-filter subquery reads
    // `_file` for matching rows, runtime-filters the rewrite scan to
    // those files, and the replace commit swaps ONLY them — files whose
    // rows cannot match stay byte-identical (the a25 pruning economics,
    // now for UPDATE/MERGE)
    val root = freshDir("cow_rlp")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-1-3.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,a,2.5", "3,a,3.5"))
    java.nio.file.Files.write(new File(tbl, "part-1-10-12.csv").toPath,
      java.util.Arrays.asList("10,b,1.0", "11,b,2.0", "12,b,3.0"))
    java.nio.file.Files.write(new File(tbl, "part-2-20-22.csv").toPath,
      java.util.Arrays.asList("20,c,1.0", "21,c,2.0", "22,c,3.0"))
    val cat = Tables.catalog(spark, "cow_rlp", classOf[graft.sources.CowDeleteCatalog], root)
    val f1 = new File(tbl, "part-1-10-12.csv")
    val f2 = new File(tbl, "part-2-20-22.csv")
    val (s1, m1) = (f1.length, f1.lastModified)
    val (s2, m2) = (f2.length, f2.lastModified)
    spark.sql(s"UPDATE $cat.t SET total = total + 10.0 WHERE k <= 3")
    val got = spark.table(s"$cat.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 11.5), (2L, 12.5), (3L, 13.5), (10L, 1.0),
      (11L, 2.0), (12L, 3.0), (20L, 1.0), (21L, 2.0), (22L, 3.0)),
      s"update applied wrong rows: ${got.toSeq}")
    assert((f1.length, f1.lastModified) == (s1, m1) &&
      (f2.length, f2.lastModified) == (s2, m2),
      "UPDATE rewrote files outside the affected group — runtime group " +
        "filtering did not prune")
    assert(!new File(tbl, "part-0-1-3.csv").exists(),
      "the affected file must have been replaced")
  }

  test("a CTAS-created table composes with the DML machinery: nulls round-trip, UPDATE and DELETE work on the generalized schema") {
    // the a32 staging path persists _base.tsv (non-null prefix 1, any
    // leading-BIGINT schema); this pins that such a table is a
    // first-class citizen of the rest of the connector — row-level
    // UPDATE, executable DELETE, and NULL-encoded string/long columns
    val root = freshDir("cow_ctas")
    val cat = Tables.catalog(spark, "cow_ctas", classOf[graft.sources.CowDeleteCatalog], root)
    spark.sql(s"""CREATE TABLE $cat.t AS
      SELECT * FROM VALUES (1L, 'x', CAST(NULL AS BIGINT)),
                           (2L, NULL, 7L),
                           (3L, 'y', 9L) AS v(id, tag, score)""")
    val back = spark.table(s"$cat.t").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(back.toSeq == Seq((1L, Some("x"), None), (2L, None, Some(7L)),
      (3L, Some("y"), Some(9L))), s"CTAS null round-trip broke: ${back.toSeq}")
    spark.sql(s"UPDATE $cat.t SET score = 42 WHERE tag IS NULL")
    spark.sql(s"DELETE FROM $cat.t WHERE id = 3")
    val after = spark.table(s"$cat.t").orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(after.toSeq == Seq((1L, None), (2L, Some(42L))),
      s"DML on the CTAS table broke: ${after.toSeq}")
  }

  test("aggregate pushdown answers min/max from archived stats on a VERSION AS OF snapshot") {
    // a35 over a27: a historical min/max must come from the ARCHIVED
    // copies' file-name stats (the rv<m>- prefix parse) — a time-travel
    // dashboard query costs a manifest read at any table size
    val root = freshDir("cow_aggpin")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-5-9.csv").toPath,
      java.util.Arrays.asList("5,a,1.0", "9,a,2.0"))
    java.nio.file.Files.write(new File(tbl, "part-1-20-30.csv").toPath,
      java.util.Arrays.asList("20,b,1.0", "30,b,2.0"))
    val cat = Tables.catalog(spark, "cow_aggpin", classOf[graft.sources.CowDeleteCatalog], root)
    graft.sources.CowVersions.enable(tbl) // v0
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 20") // v1: file retired to archive
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row = {
      val scans = (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }
      assert(scans.nonEmpty &&
        scans.forall(_.isInstanceOf[graft.sources.CowAggScan]),
        s"expected the pushed-aggregate scan, got ${scans.map(_.getClass)}")
      df.head()
    }
    val cur = gate(spark.sql(s"SELECT min(k), max(k) FROM $cat.t"))
    assert((cur.getLong(0), cur.getLong(1)) == ((5L, 9L)), s"current: $cur")
    val v0 = gate(spark.sql(s"SELECT min(k), max(k) FROM $cat.t VERSION AS OF 0"))
    assert((v0.getLong(0), v0.getLong(1)) == ((5L, 30L)),
      s"v0 must see the archived file's stats: $v0")
  }

  test("CowVersions fuzz: a random mutation history replays exactly through time travel and the manifest diff") {
    // adversarial pin for the a27/a28 machinery: 14 seeded-random
    // mutations (keyed deletes through the SQL surface, multi-row
    // inserts through the V2 write path) against a sequential Scala
    // reference model; every snapshot must replay byte-exactly via
    // VERSION AS OF, the manifest diff must reproduce the reference
    // multiset diff for two version pairs, and vacuum must expire
    // exactly the dropped prefix.
    val root = freshDir("cow_fuzz")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-1-3.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,b,2.5", "3,c,3.5"))
    java.nio.file.Files.write(new File(tbl, "part-1-10-12.csv").toPath,
      java.util.Arrays.asList("10,d,1.0", "11,e,2.0", "12,f,3.0"))
    val cat = Tables.catalog(spark, "cow_fuzz", classOf[graft.sources.CowDeleteCatalog], root)
    graft.sources.CowVersions.enable(tbl)

    type R = (Long, String, Double)
    var cur: Vector[R] = Vector((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5),
      (10L, "d", 1.0), (11L, "e", 2.0), (12L, "f", 3.0))
    val snaps = scala.collection.mutable.ArrayBuffer[Vector[R]](cur)
    val rnd = new scala.util.Random(42)
    var nextKey = 100L
    for (_ <- 1 to 14) {
      if (rnd.nextBoolean() && cur.nonEmpty) {
        // ops whose bound is an EXISTING key always delete >= 1 row, so
        // engine and model agree a snapshot was created
        val op = Seq("<=", ">=", "=")(rnd.nextInt(3))
        val bound = cur(rnd.nextInt(cur.size))._1
        spark.sql(s"DELETE FROM $cat.t WHERE k $op $bound")
        val pred: Long => Boolean = op match {
          case "<=" => _ <= bound
          case ">=" => _ >= bound
          case "=" => _ == bound
        }
        cur = cur.filterNot(r => pred(r._1))
        snaps += cur
      } else {
        val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
          // occasionally re-use a retired key range to exercise the
          // file-name collision path
          val k = if (rnd.nextInt(4) == 0 && nextKey > 100L)
            100L + rnd.nextInt((nextKey - 100L).toInt)
          else { nextKey += 1; nextKey }
          (k, ('a' + rnd.nextInt(26)).toChar.toString,
            rnd.nextInt(1000).toDouble / 4)
        }
        spark.sql(s"INSERT INTO $cat.t VALUES " +
          rows.map { case (k, st, v) => s"($k, '$st', $v)" }.mkString(", "))
        cur = cur ++ rows
        snaps += cur
      }
    }
    def ms(rows: Iterable[R]): Map[R, Int] =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    def msDiff(a: Iterable[R], b: Iterable[R]): Map[R, Int] = {
      val mb = ms(b)
      ms(a).map { case (r, n) => r -> (n - mb.getOrElse(r, 0)) }
        .filter(_._2 > 0)
    }
    val versions = graft.sources.CowVersions.read(tbl).map(_._1)
    assert(versions.size == snaps.size,
      s"engine has ${versions.size} snapshots, model has ${snaps.size}")
    def readVersion(v: Long): Seq[R] =
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    versions.zip(snaps).foreach { case (v, snap) =>
      assert(ms(readVersion(v)) == ms(snap), s"snapshot $v diverged from model")
    }
    assert(ms(spark.table(s"$cat.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))) ==
      ms(snaps.last), "current diverged from the newest snapshot")
    // manifest diff == reference multiset diff, and common files skipped
    val last = versions.size - 1
    Seq((0, last), (last / 2, last)).foreach { case (ia, ib) =>
      val (onlyA, onlyB, _) = graft.sources.CowVersions.manifestDiff(
        tbl, versions(ia), versions(ib))
      def readPaths(ps: Seq[String]): Seq[R] =
        if (ps.isEmpty) Seq.empty
        else spark.read.schema(graft.sources.CowTable.schema).csv(ps: _*)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
          .toSeq
      val ra = readPaths(onlyA); val rb = readPaths(onlyB)
      assert(msDiff(ra, rb) == msDiff(snaps(ia), snaps(ib)),
        s"change feed v${versions(ia)}->v${versions(ib)}: removed diverged")
      assert(msDiff(rb, ra) == msDiff(snaps(ib), snaps(ia)),
        s"change feed v${versions(ia)}->v${versions(ib)}: added diverged")
    }
    // vacuum keeps the newest 3; the expired prefix raises, the rest replay
    graft.sources.CowVersions.vacuum(tbl, 3)
    versions.dropRight(3).foreach { v =>
      intercept[Exception] { readVersion(v) }
    }
    versions.takeRight(3).zip(snaps.takeRight(3)).foreach { case (v, snap) =>
      assert(ms(readVersion(v)) == ms(snap), s"vacuum corrupted kept snapshot $v")
    }
  }

  test("CowDeleteCatalog: ADD COLUMNS is metadata-only, INSERT round-trips NULLs, history null-pads, DELETE prunes evolved files") {
    val root = freshDir("cow_evo")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-1-2.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,b,2.5"))
    val cat = Tables.catalog(spark, "cow_evo", classOf[graft.sources.CowDeleteCatalog], root)
    val seeded = new File(tbl, "part-0-1-2.csv")
    val (len0, mt0) = (seeded.length, seeded.lastModified)

    spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (chan STRING, prio BIGINT)")
    assert(spark.table(s"$cat.t").schema.fieldNames.toSeq ==
      Seq("k", "st", "total", "chan", "prio"))
    // history untouched, reads back null-padded
    assert((seeded.length, seeded.lastModified) == (len0, mt0),
      "ADD COLUMNS rewrote a history file")
    val old = spark.table(s"$cat.t").where("k = 1").collect().head
    assert(old.isNullAt(3) && old.isNullAt(4), "short row must null-pad")

    // evolutions that need a history rewrite are refused
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.t DROP COLUMN total") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN st TO status") }
    assert(spark.table(s"$cat.t").schema.fieldNames.length == 5,
      "refused evolution must not change the schema")

    // INSERT with a value and a genuine NULL in the added columns
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(10, 'c', 3.5, 'web', 7), (11, 'd', 4.5, CAST(NULL AS STRING), CAST(NULL AS BIGINT))")
    val got = spark.table(s"$cat.t").orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 10L, 11L))
    val r10 = got(2); val r11 = got(3)
    assert(r10.getString(3) == "web" && r10.getLong(4) == 7L)
    assert(r11.isNullAt(3) && r11.isNullAt(4), "inserted NULLs must survive")
    // new files joined the manifest with their own k-range stats
    val ranges = graft.sources.CowTable.manifest(tbl).map { case (_, lo, hi) => (lo, hi) }
    assert(ranges.contains((10L, 11L)) || (ranges.contains((10L, 10L)) && ranges.contains((11L, 11L))),
      s"inserted file missing k-range stats: $ranges")
    // a25's file-level pruning still applies to post-evolution files
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 10")
    assert((seeded.length, seeded.lastModified) == (len0, mt0),
      "DELETE outside the seeded range rewrote the seeded file")
    assert(spark.table(s"$cat.t").collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L))
  }
}
