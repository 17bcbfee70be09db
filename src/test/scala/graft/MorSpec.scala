package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The merge-on-read connector (a31): delta-based row-level DML
  * through `SupportsDelta`. What needs pinning beyond the oracled key:
  * the WRITE-SIDE economics (base files byte-identical through any
  * DML), the delta fold's edge semantics (delete-then-reinsert, update
  * of an inserted row, cross-statement composition), and compaction's
  * read-equivalence + touched-files-only contract. */
class MorSpec extends AnyFunSuite {
  import TestSpark._

  private def seed(tag: String): (String, File) = {
    val root = Tables.scratch(spark, tag, "morspec")
    val tbl = new File(root, "t"); tbl.mkdirs()
    java.nio.file.Files.write(new File(tbl, "part-0-1-3.csv").toPath,
      java.util.Arrays.asList("1,a,1.5", "2,a,2.5", "3,a,3.5"))
    java.nio.file.Files.write(new File(tbl, "part-1-10-12.csv").toPath,
      java.util.Arrays.asList("10,b,1.0", "11,b,2.0", "12,b,3.0"))
    java.nio.file.Files.write(new File(tbl, "part-2-20-22.csv").toPath,
      java.util.Arrays.asList("20,c,1.0", "21,c,2.0", "22,c,3.0"))
    val cat = Tables.catalog(spark, s"mor_$tag", classOf[graft.sources.MorDeltaCatalog], root)
    (cat, tbl)
  }

  private def readAll(cat: String): Seq[(Long, String, Double)] =
    spark.table(s"$cat.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  private def stamps(tbl: File): Map[String, (Long, Long)] =
    tbl.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("DELETE/UPDATE/MERGE write only deltas; base files stay byte-identical; statements compose") {
    val (cat, tbl) = seed("dml")
    val before = stamps(tbl)

    spark.sql(s"DELETE FROM $cat.t WHERE k = 2 OR k = 20")
    assert(readAll(cat).map(_._1) == Seq(1L, 3L, 10L, 11L, 12L, 21L, 22L))

    spark.sql(s"UPDATE $cat.t SET total = total + 10.0 WHERE st = 'b'")
    assert(readAll(cat).filter(_._2 == "b").map(_._3) == Seq(11.0, 12.0, 13.0))

    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (3L, 'z', 0.5), (100L, 'n', 9.0) AS s(k, st, total)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET st = s.st, total = s.total
      WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)
      WHEN NOT MATCHED BY SOURCE AND t.k >= 21 THEN DELETE""")
    assert(readAll(cat) == Seq((1L, "a", 1.5), (3L, "z", 0.5),
      (10L, "b", 11.0), (11L, "b", 12.0), (12L, "b", 13.0), (100L, "n", 9.0)),
      s"merged view wrong: ${readAll(cat)}")

    assert(stamps(tbl) == before,
      "MoR DML must never touch a base file — that's the whole contract")
    val deltas = new File(tbl, "_deltas").list().filter(_.startsWith("delta-"))
    assert(deltas.length == 3,
      s"one delta file per committed statement, got: ${deltas.toSeq}")
  }

  test("delta fold edges: delete-then-reinsert and update-of-inserted resolve in statement order") {
    val (cat, _) = seed("edges")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1") // tombstone a base row
    // reinsert the same identity with new content through MERGE
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT 1L AS k, 'r' AS st, 7.0 AS total) s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)""")
    assert(readAll(cat).head == ((1L, "r", 7.0)), s"reinsert lost: ${readAll(cat)}")
    // now UPDATE the inserted row — the patch must land on the insert,
    // not resurrect the tombstoned base row
    spark.sql(s"UPDATE $cat.t SET total = 8.0 WHERE k = 1")
    assert(readAll(cat).head == ((1L, "r", 8.0)))
    // and delete it again — fully gone, base row stays dead
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")
    assert(readAll(cat).map(_._1) == Seq(2L, 3L, 10L, 11L, 12L, 20L, 21L, 22L))
  }

  test("time travel replays the log prefix; compaction vacuums history below its floor and keeps sequences monotone") {
    val (cat, tbl) = seed("travel")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")                  // v1
    spark.sql(s"UPDATE $cat.t SET total = 50.0 WHERE k = 10")     // v2
    def keysAt(v: String) =
      spark.sql(s"SELECT k FROM $cat.t VERSION AS OF $v ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
    assert(keysAt("0").contains(2L) && !keysAt("1").contains(2L),
      "v0 must predate the delete, v1 must reflect it")
    assert(spark.sql(s"SELECT total FROM $cat.t VERSION AS OF 1 WHERE k = 10")
      .head().getDouble(0) == 1.0, "v1 must predate the update")
    assert(spark.sql(s"SELECT total FROM $cat.t VERSION AS OF 2 WHERE k = 10")
      .head().getDouble(0) == 50.0)
    // a snapshot is read-only: DML against it must refuse
    assert(scala.util.Try(spark.sql(
      s"DELETE FROM $cat.t VERSION AS OF 1 WHERE k = 3")).isFailure,
      "DML on a VERSION AS OF snapshot must refuse")

    graft.sources.MorCompaction.compact(tbl)
    // compaction folded seqs 1-2: travel below the floor must refuse
    // (the pre-images are gone — serving the folded state as v0/v1
    // would be silent corruption), the floor itself stays readable
    for (dead <- Seq("0", "1"))
      assert(scala.util.Try(spark.sql(
        s"SELECT * FROM $cat.t VERSION AS OF $dead").collect()).isFailure,
        s"v$dead was vacuumed by compaction and must refuse")
    assert(keysAt("2") == Seq(1L, 3L, 10L, 11L, 12L, 20L, 21L, 22L))
    // post-compaction statements continue the sequence (a reused seq
    // would let new history shadow vacuumed snapshots)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 3")                  // v3
    assert(new java.io.File(tbl, "_deltas").list().toSet
      .contains("delta-3.csv"),
      s"post-compaction commit must publish seq 3: ${
        new java.io.File(tbl, "_deltas").list().toSeq}")
    assert(!keysAt("3").contains(3L) && keysAt("2").contains(3L))
  }

  test("MoR fuzz: a random DML history replays exactly against a sequential reference model, through every snapshot and a mid-history compaction") {
    // the a27-fuzz idiom applied to the delta log: 12 seeded-random
    // mutations through the REAL SQL surface (keyed DELETE, keyed
    // UPDATE, MERGE-insert of a fresh key), mirrored step by step in a
    // plain Map; after each statement the merged view must equal the
    // model, and at the end EVERY surviving snapshot must equal the
    // model's history — including across a compaction planted mid-way
    // (which must vacuum exactly the pre-floor snapshots and nothing
    // else)
    val (cat, tbl) = seed("fuzz")
    val rnd = new scala.util.Random(4242)
    val model = scala.collection.mutable.LinkedHashMap(
      1L -> ("a", 1.5), 2L -> ("a", 2.5), 3L -> ("a", 3.5),
      10L -> ("b", 1.0), 11L -> ("b", 2.0), 12L -> ("b", 3.0),
      20L -> ("c", 1.0), 21L -> ("c", 2.0), 22L -> ("c", 3.0))
    val history = scala.collection.mutable.ArrayBuffer(
      model.toMap) // index v -> state after v statements
    var nextNew = 100L
    def current(): Map[Long, (String, Double)] =
      spark.table(s"$cat.t").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    (1 to 12).foreach { step =>
      rnd.nextInt(3) match {
        case 0 if model.nonEmpty => // keyed delete
          val k = model.keys.toSeq(rnd.nextInt(model.size))
          spark.sql(s"DELETE FROM $cat.t WHERE k = $k")
          model.remove(k): Unit
        case 1 if model.nonEmpty => // keyed absolute update
          val k = model.keys.toSeq(rnd.nextInt(model.size))
          val nv = step * 10.0 + 0.5
          spark.sql(s"UPDATE $cat.t SET total = $nv WHERE k = $k")
          model(k) = (model(k)._1, nv)
        case _ => // insert a fresh key via MERGE
          val k = nextNew; nextNew += 1
          spark.sql(s"""MERGE INTO $cat.t t
            USING (SELECT ${k}L AS k, 'n' AS st,
                   CAST($step AS DOUBLE) AS total) s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, st, total)
            VALUES (s.k, s.st, s.total)""")
          model(k) = ("n", step.toDouble)
      }
      history += model.toMap
      assert(current() == model.toMap,
        s"step $step: merged view diverged from the model")
      if (step == 6) {
        graft.sources.MorCompaction.compact(tbl)
        assert(current() == model.toMap, "compaction changed the view")
      }
    }
    // every surviving snapshot replays its point-in-time model state;
    // vacuumed ones refuse
    val floor = graft.sources.MorDeltas.compactedSeq(tbl)
    assert(floor == 6L, s"compaction floor must be 6, got $floor")
    (0 to 12).foreach { v =>
      val got = scala.util.Try(
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v").collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap)
      if (v < floor)
        assert(got.isFailure, s"vacuumed snapshot v$v must refuse")
      else
        assert(got.toOption.contains(history(v)),
          s"snapshot v$v diverged: $got vs ${history(v)}")
    }
  }

  test("compaction folds the log into base, rewrites only touched files, and DML keeps working") {
    val (cat, tbl) = seed("compact")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")
    spark.sql(s"UPDATE $cat.t SET total = 99.0 WHERE k = 10")
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT 30L AS k, 'd' AS st, 4.0 AS total) s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)""")
    val viewBefore = readAll(cat)
    val untouched = new File(tbl, "part-2-20-22.csv")
    val (s0, m0) = (untouched.length, untouched.lastModified)

    graft.sources.MorCompaction.compact(tbl)

    assert(new File(tbl, "_deltas").list().forall(!_.startsWith("delta-")),
      "compaction must clear the delta log")
    assert(readAll(cat) == viewBefore,
      s"compaction changed the view: ${readAll(cat)} vs $viewBefore")
    assert((untouched.length, untouched.lastModified) == (s0, m0),
      "compaction rewrote a base file the log never touched")
    assert(tbl.listFiles().exists(_.getName == "part-3-30-30.csv"),
      s"inserts must land as a new stats-named base file: ${tbl.list().toSeq}")

    // post-compaction DML starts a fresh log against the folded base
    spark.sql(s"DELETE FROM $cat.t WHERE k = 30")
    assert(readAll(cat).map(_._1) == Seq(1L, 3L, 10L, 11L, 12L, 20L, 21L, 22L))
  }
}
