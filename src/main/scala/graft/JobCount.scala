package graft

import org.apache.spark.GraftListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

/** Spark-job / stage counter and plan printer per query key:
  * `runMain graft.JobCount <sfDir> <key>...` builds and fully executes
  * each named `SparkEntry.queries` entry under a registered SparkListener
  * and prints `key jobs=J stages=S` — the observable for driver-loop
  * changes (connected-components rounds, BPE merge rounds), whose wins
  * are jobs-per-key rather than final-plan shape (the loops run at
  * DataFrame-construction time, so `explain` shows only the final
  * assembly over checkpoint scans). Counts include the jobs launched
  * while CONSTRUCTING the frame (the driver-side loops) plus the one
  * materializing action. Under each `jobs=` line it prints the key's
  * formatted executed plan: the final adaptive plan of the counted run,
  * with the stage shapes AQE chose at run time. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, keys @ _*) = args
    val spark = Session.local()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    })
    // WARM pass first (not printed): fixtures, shared frames and FS
    // caches prime exactly as in the bench's pass 1, so the printed
    // counts are the steady-state jobs a warm consumer pays.
    keys.foreach { k =>
      try SparkEntry.queries(k)(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"(warm $k failed: ${e.getMessage})") }
    }
    keys.foreach { k =>
      // the listener bus is async: deliver every event posted so far
      // (prior keys' jobs) before the snapshot, and this key's after it
      GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val j0 = jobs.get(); val s0 = stages.get()
      try {
        val qe = SparkEntry.queries(k)(spark, sfDir).queryExecution
        qe.toRdd.count()
        GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
        println(s"$k jobs=${jobs.get() - j0} stages=${stages.get() - s0}")
        println(qe.explainString(FormattedMode))
      } catch { case e: Throwable => println(s"$k FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
