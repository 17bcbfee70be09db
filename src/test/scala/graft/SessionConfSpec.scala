package graft

import org.scalatest.funsuite.AnyFunSuite

/** Operators that pin SQL conf for one key must hand the shared session
  * back exactly as they found it: the same explicitly set keys with the
  * same values, and unset keys still reading Spark's defaults. */
class SessionConfSpec extends AnyFunSuite {
  import TestSpark._

  private def explicitConf: Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => !k.startsWith("spark.sql.catalog.") }

  test("withConf: a throwing body restores a present key and unsets an absent one") {
    val (present, absent) = ("spark.sql.shuffle.partitions", "spark.sql.cbo.enabled")
    val before = explicitConf
    assert(before.contains(present) && !before.contains(absent))
    val boom = intercept[IllegalStateException] {
      Tables.withConf(spark)(present -> "7", absent -> "true") {
        assert(spark.conf.get(present) == "7")
        assert(spark.conf.get(absent) == "true")
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(explicitConf == before)
    assert(spark.conf.get(absent) == "false")
  }

  test("conf-scoped keys leave the session conf as they found it") {
    val bucketing = "spark.sql.sources.v2.bucketing.enabled"
    val before = explicitConf
    assert(spark.conf.get(bucketing) == "true")
    val changed = Seq("c20_join_cbo_reorder", "c22_join_aqe_broadcast_switch",
      "c23_join_storage_partitioned", "a17_source_csv_malformed",
      "l39_join_runtime_bloom", "i8_stream_stream_join",
      "i11_stream_session_append", "i19_stream_foreachbatch_upsert")
      .flatMap { key =>
        val pre = explicitConf
        assert(SparkEntry.queries(key)(spark, sfTiny).collect().nonEmpty, key)
        val post = explicitConf
        if (post == pre) None
        else Some(s"$key: now ${post.toSet -- pre.toSet}, was ${pre.toSet -- post.toSet}")
      }
    assert(changed.isEmpty, changed.mkString("keys changed the session conf:\n", "\n", ""))
    assert(explicitConf == before)
    assert(spark.conf.get(bucketing) == "true")
  }
}
