package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point builds: `Verify`, `Bench`,
  * `JobCount` and the specs' `TestSpark`. */
object Session {
  /** `cpus` sets both `local[n]` and the shuffle partition count; by
    * default `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has carried TIMESTAMP(NANOS) in some data
      // generations; pin the legacy long-read once at build time so every
      // query sees the same session state (the loaders adapt to either)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle/spill on tmpfs; SPARK_LOCAL_DIRS, when set, still wins
      .config("spark.local.dir", "/dev/shm/graft_spark")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
