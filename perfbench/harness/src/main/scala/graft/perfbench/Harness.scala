package graft.perfbench

import graft.SparkEntry
import graft.Tables
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Runs one workload in one JVM, one key after another (a closed loop
  * with one client): set-up, a cold pass that also keeps each key's output
  * for the correctness check, then warm passes until the time is up. Every
  * key is
  * split into three timed calls: building the frame (`queries(key)`),
  * planning (`executedPlan`) and execution (`toRdd.count()`).
  *
  * Usage: `Harness <spec.properties>`; the spec names the data directory,
  * the keys, the seed and where to write `result.json` and `trace.json`.
  */
object Harness {
  private val Phases = Seq("construct", "plan", "exec")

  final class KeyRun(val key: String) {
    val seconds = Array(0.0, 0.0, 0.0)
    val counts: Seq[Counts] = Phases.map(_ => new Counts)
    var error: Option[String] = None
  }
  final class Pass(val index: Int, val keys: Seq[KeyRun], val wallS: Double)

  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try spec.load(in) finally in.close()
    def prop(k: String): String =
      Option(spec.getProperty(k)).getOrElse(sys.error(s"spec lacks '$k'"))
    val data = prop("data")
    val out = prop("out")
    val cores = prop("cores").toInt
    val seconds = prop("seconds").toDouble
    val seed = prop("seed").toLong
    val keys = prop("keys").split(",").toSeq.filter(_.nonEmpty)
    val tracer = if (prop("trace") == "1") Some(new Tracer) else None

    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")

    val epochMs0 = System.currentTimeMillis.toDouble
    val nano0 = System.nanoTime
    def nowMs: Double = epochMs0 + (System.nanoTime - nano0) / 1e6
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val runSpan = tracer.map(_.open()).getOrElse(0)

    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", prop("local_dir"))
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        spark.streams.addListener(t.streams)
      }
      spark
    }

    // set-up: a ready session and the data profile. No kept key consumes
    // the shared primes (Streaming.primeSharedTumbling,
    // TrainOps.primeSharedRetrieval), so none runs here.
    val spark = session()
    Console.withOut(System.err)(Tables.profileData(spark, data))
    val readyMs = nowMs
    val setupS = (readyMs - jvmStartMs) / 1e3
    tracer.foreach { t =>
      PerfbenchBus.drain(spark.sparkContext)
      t.close(t.open(), runSpan, "setup", jvmStartMs, readyMs)
    }

    def drain(): Unit = tracer.foreach(_ => PerfbenchBus.drain(spark.sparkContext))

    // The cold pass keeps each key's output for the check. collect() reuses
    // the executed plan, so only its final stage runs again; the rows are
    // written the way Verify writes them (one parquet file per key).
    val outputErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var keepOutput = true
    def saveOutput(key: String, df: DataFrame): Unit = {
      tracer.foreach(_.scope = new Counts)
      try {
        val rows = java.util.Arrays.asList(df.collect(): _*)
        spark.createDataFrame(rows, df.schema).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/outputs/$key")
      } catch {
        case e: Throwable => outputErrors(key) = s"${e.getClass.getName}: ${e.getMessage}"
      }
      drain()
    }

    def runKey(key: String, passSpan: Int): KeyRun = {
      val run = new KeyRun(key)
      val fn = SparkEntry.queries(key)
      val keySpan = tracer.map(_.open()).getOrElse(0)
      val keyStartMs = nowMs
      var df: DataFrame = null
      val bodies: Seq[() => Unit] = Seq(
        () => df = fn(spark, data),
        () => { df.queryExecution.executedPlan; () },
        () => { df.queryExecution.toRdd.count(); () })
      var i = 0
      while (i < Phases.size && run.error.isEmpty) {
        val phaseSpan = tracer.map { t =>
          t.scope = run.counts(i)
          val id = t.open(); t.parent = id; id
        }
        val t0 = nowMs
        try bodies(i)()
        catch {
          case e: Throwable =>
            run.error = Some(s"${Phases(i)}: ${e.getClass.getName}: ${e.getMessage}")
            System.err.println(s"[perfbench] $key failed in ${run.error.get}")
        }
        val t1 = nowMs
        run.seconds(i) = (t1 - t0) / 1e3
        drain()
        tracer.foreach(_.close(phaseSpan.get, keySpan, Phases(i), t0, t1))
        i += 1
      }
      if (tracer.isDefined && run.error.isEmpty)
        run.counts(2).exchanges = exchanges(df.queryExecution.executedPlan)
      tracer.foreach(_.close(keySpan, passSpan, key, keyStartMs, nowMs))
      if (keepOutput && run.error.isEmpty) saveOutput(key, df)
      run
    }

    // one cold pass, then warm passes until they have run for `seconds`
    // (at least two of them); the seed permutes the key order within each
    // pass
    val passes = ArrayBuffer.empty[Pass]
    def warmS = passes.drop(1).map(_.wallS).sum
    while (passes.size < 3 || warmS < seconds) {
      val index = passes.size
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(keys)
      val passSpan = tracer.map(_.open()).getOrElse(0)
      val t0 = nowMs
      val runs = order.map(runKey(_, passSpan))
      tracer.foreach(_.close(passSpan, runSpan, if (index == 0) "cold pass" else s"warm pass $index", t0, nowMs))
      // a pass's time is the sum of its keys' timed calls: the output
      // check and the trace's bus drains between them are not counted
      passes += new Pass(index, runs, runs.map(_.seconds.sum).sum)
      keepOutput = false
    }
    val rssKb = vmHwmKb()
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.foreach(_.close(runSpan, 0, s"run ${prop("run_id")}", jvmStartMs, nowMs))

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.createDirectories(Paths.get(s"$out/outputs"))
    Files.writeString(Paths.get(s"$out/outputs/oracle_sql.json"),
      Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))

    def keyJson(r: KeyRun): String = Json.obj(Seq(
      "key" -> Json.str(r.key),
      "construct_s" -> Json.num(r.seconds(0)),
      "plan_s" -> Json.num(r.seconds(1)),
      "exec_s" -> Json.num(r.seconds(2)),
      "error" -> r.error.map(Json.str).getOrElse("null")))
    def phaseTotals(p: Pass): String = Json.obj(Phases.indices.map { i =>
      val c = new Counts
      p.keys.foreach(k => c.add(k.counts(i)))
      Phases(i) -> c.json
    })
    val result = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "wall_s" -> Json.num(p.wallS),
        "keys" -> Json.arr(p.keys.map(keyJson)),
        "layers" -> phaseTotals(p))))),
      "rss_kb" -> rssKb.toString,
      "gc_s" -> Json.num(gcS),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "output_errors" -> Json.obj(outputErrors.toSeq.map { case (k, e) => k -> Json.str(e) })))
    Files.writeString(Paths.get(s"$out/result.json"), result)

    tracer.foreach { t =>
      val spans = t.allSpans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
      val perKey = passes.toSeq.flatMap(p => p.keys.map { r =>
        Json.obj(Seq("pass" -> p.index.toString, "key" -> Json.str(r.key)) ++
          Phases.indices.map(i => Phases(i) -> r.counts(i).json))
      })
      Files.writeString(Paths.get(s"$out/trace.json"), Json.obj(Seq(
        "run_id" -> Json.str(prop("run_id")),
        "spans" -> Json.arr(spans),
        "keys" -> Json.arr(perKey))))
    }
    spark.stop()
  }

  /** Exchanges in the final physical plan, adaptive stages included. */
  private def exchanges(p: SparkPlan): Long = {
    val self = p match { case _: Exchange => 1L; case _ => 0L }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchanges).sum
  }

  /** The process's peak resident set (`VmHWM`), in KiB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }
      .getOrElse(0L)
}
