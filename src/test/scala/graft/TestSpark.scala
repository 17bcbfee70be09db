package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM: `Session.local` at a
  * fixed 4 cores, so the specs' partition counts do not follow the host. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
  val sfTiny = "/root/testdata/sf0.001"

  /** Fresh per-call scratch dir UNDER the app-keyed tmpfs tree (so the
    * session shutdown hook reclaims it) — the spec replacement for
    * `Files.createTempDirectory`, whose /tmp dirs outlived the JVM and
    * accumulated on the throttled virtio disk across test runs. */
  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong()
  def tmpDir(prefix: String): String = {
    val d = new java.io.File(
      Tables.scratch(spark, prefix, "spectmp"),
      s"${prefix}_${tmpSeq.incrementAndGet()}")
    d.mkdirs()
    d.getPath
  }
}
