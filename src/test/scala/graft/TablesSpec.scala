package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins how [[Tables.t]] / [[Tables.events]] pick the path a table is read
  * from: a one-file table Spark would scan as one split reads through a
  * re-laid copy with one file per core (same schema, same rows, source
  * order kept); a directory table or a file larger than
  * `spark.sql.files.maxPartitionBytes` reads its source unchanged; and an
  * in-place regeneration of the source invalidates the copy. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{cleaning, fixtureTrees}
  private val spark = TestSpark.spark
  import spark.implicits._
  private val cores = spark.sparkContext.defaultParallelism

  /** Writes `df` as ONE regular parquet file at `$dir/$name.parquet` (the
    * shape of every sf table), through a staging dir outside `dir`. */
  private def writeOneFile(df: DataFrame, dir: String, name: String,
      options: Map[String, String] = Map.empty): File = {
    val stage = TestSpark.tmpDir("tables_stage")
    df.coalesce(1).write.mode("overwrite").options(options).parquet(stage)
    val part = new File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val out = new File(dir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Tables.deleteRec(new File(stage))
    out
  }

  private def splitCopies(dir: String): Seq[File] =
    fixtureTrees(dir).flatMap(t => Option(t.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("split"))

  /** The row count of each row group of a parquet file, in file order. */
  private def rowGroupRows(f: File): Seq[Long] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), new org.apache.hadoop.conf.Configuration()))
    try {
      val groups = reader.getRowGroups
      (0 until groups.size).map(i => groups.get(i).getRowCount)
    } finally reader.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def partsInOrder(path: String): Seq[File] =
    new File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  test("a one-file table reads as one input partition per core, same schema, rows and order") {
    val d = TestSpark.sfTiny
    val src = spark.read.parquet(s"$d/orders.parquet")
    assert(src.rdd.getNumPartitions == 1, "the source must be a single-split table")
    val relaid = Tables.t(spark, d, "orders")
    assert(relaid.rdd.getNumPartitions == cores,
      s"re-laid read planned ${relaid.rdd.getNumPartitions} splits on $cores cores")
    assert(relaid.inputFiles.forall(_.contains(s"/split${cores}_orders/")),
      s"not read through the copy: ${relaid.inputFiles.mkString(", ")}")
    assert(relaid.schema == src.schema)
    assert(sameRows(relaid, src), "the copy's rows differ from the source's")
    // the copy's files, in name order, are contiguous runs of the source
    val path = Tables.readPath(spark, d, "orders")
    val parts = partsInOrder(path)
    assert(parts.size == cores, s"${parts.size} files in the copy")
    assert(parts.flatMap(f => spark.read.parquet(f.getPath).collect()).toSeq ==
      src.collect().toSeq, "the copy does not keep the source's row order")
  }

  test("the re-laid copy keeps the source's rows per row group") {
    val d = TestSpark.tmpDir("tables_groups")
    val f = writeOneFile(spark.range(0L, 200L).toDF("id"), d, "items",
      Map("parquet.block.row.count.limit" -> "25"))
    assert(rowGroupRows(f) == Seq.fill(8)(25L), "the source must have 8 row groups of 25 rows")
    cleaning(d) {
      val parts = partsInOrder(Tables.readPath(spark, d, "items"))
      assert(parts.size == cores, s"${parts.size} files in the copy")
      val groups = parts.map(rowGroupRows)
      assert(groups.flatten.forall(_ <= 25L), s"row groups larger than the source's: $groups")
      assert(groups.flatten.sum == 200L)
    }
  }

  test("events re-lays every ts encoding and the loader still canonicalizes it") {
    val t0 = 1700000000000000L
    val base = (0L until 24L).map(i => (i, t0 + i * 450L * 1000000L, s"e$i"))
      .toDF("event_id", "ts_us", "event_type")
    val encodings = Seq(
      "us" -> timestamp_micros(col("ts_us")),
      "ntz" -> timestamp_micros(col("ts_us")).cast("timestamp_ntz"),
      // a TIMESTAMP(NANOS) file reads as raw ns longs under nanosAsLong
      "ns" -> (col("ts_us") * 1000L))
    val dirs = encodings.map { case (enc, ts) =>
      val d = TestSpark.tmpDir(s"events_$enc")
      writeOneFile(base.select(col("event_id"), ts.as("ts"), col("event_type")), d, "events")
      d
    }
    cleaning(dirs: _*)(dirs.zip(encodings).foreach { case (d, (enc, _)) =>
      val src = spark.read.parquet(s"$d/events.parquet")
      val ev = Tables.events(spark, d)
      assert(ev.rdd.getNumPartitions == cores, s"$enc: ${ev.rdd.getNumPartitions} splits")
      assert(ev.inputFiles.forall(_.contains(s"/split${cores}_events/")), s"$enc: not re-laid")
      val copy = spark.read.parquet(Tables.readPath(spark, d, "events"))
      assert(copy.schema == src.schema, s"$enc: the copy changed the file schema")
      assert(sameRows(copy, src), s"$enc: the copy's rows differ")
      assert(ev.schema("ts").dataType == TimestampType, s"$enc: ts not canonicalized")
      assert(ev.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id")
        .as[(Long, Long)].collect().toSeq ==
        (0L until 24L).map(i => (i, t0 + i * 450L * 1000000L)), s"$enc: wrong instants")
    })
  }

  test("a multi-file directory table reads its source path unchanged") {
    val d = TestSpark.tmpDir("tables_dir")
    spark.range(0L, 300L, 1L, 3).toDF("id")
      .write.parquet(s"$d/items.parquet")
    cleaning(d) {
      val df = Tables.t(spark, d, "items")
      val srcFiles = spark.read.parquet(s"$d/items.parquet").inputFiles.toSet
      assert(srcFiles.size == 3)
      assert(df.inputFiles.toSet == srcFiles, s"read ${df.inputFiles.mkString(", ")}")
      assert(splitCopies(d).isEmpty, "a directory table must not be re-laid")
    }
  }

  test("a one-file table larger than maxPartitionBytes reads its source path unchanged") {
    val d = TestSpark.tmpDir("tables_big")
    val f = writeOneFile(spark.range(0L, 2000L).toDF("id"), d, "items")
    cleaning(d) {
      val df = Tables.withConf(spark)(
        "spark.sql.files.maxPartitionBytes" -> (f.length - 1).toString) {
        Tables.t(spark, d, "items")
      }
      assert(df.inputFiles.toSeq.map(p => new File(new java.net.URI(p)).getPath) == Seq(f.getPath),
        s"read ${df.inputFiles.mkString(", ")}")
      assert(splitCopies(d).isEmpty, "a file larger than one split must not be re-laid")
      // at the default bound the same file is re-laid
      assert(Tables.t(spark, d, "items").inputFiles.forall(_.contains(s"/split${cores}_items/")))
    }
  }

  test("an in-place regeneration of the source invalidates the re-laid copy") {
    val d = TestSpark.tmpDir("tables_regen")
    writeOneFile(spark.range(0L, 100L).toDF("id"), d, "items")
    cleaning(d) {
      val first = Tables.t(spark, d, "items")
      assert(first.agg(min("id"), max("id")).as[(Long, Long)].head() == ((0L, 99L)))
      val firstTree = fixtureTrees(d)
      writeOneFile(spark.range(100L, 200L).toDF("id"), d, "items")
      val second = Tables.t(spark, d, "items")
      assert(second.agg(min("id"), max("id")).as[(Long, Long)].head() == ((100L, 199L)),
        "the regenerated table was served from the stale copy")
      assert(second.rdd.getNumPartitions == cores)
      assert(firstTree.forall(!_.exists()), "the stale copy was not evicted")
    }
  }
}
