package graft
object Bench {
  /** Locale-pinned 3-decimal formatter for the doubles in the emitted
    * JSON: `f"...%.3f"` uses the default locale, so a comma-decimal host
    * would print `0,123` — invalid JSON for every reader of the record. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // fail-loud data profile (see Verify): printed to stderr so the bench's
    // stdout stays JSON lines only
    Console.withOut(System.err) { Tables.profileData(spark, sfDir) }
    // optional args: restrict to these keys (local iteration); no args =
    // full suite. SPARK_GRAFT_REPEAT runs each query N times and keeps the
    // minimum — steady-state timing; every per-run time is emitted under
    // "runs", so a host stall shows as one outlier among steady runs
    // instead of masquerading as a slow operator.
    val only = args.toSet
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val keys = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    // PASS-INTERLEAVED repeats: the repeats run as `repeat` whole-suite
    // PASSES (pass 1 = every key once, then pass 2, ...), not as N
    // back-to-back runs per key. A host stall freezes the process
    // wholesale; with consecutive repeats one stall can span all N runs
    // of the keys it lands on and inflate even the minimum. Interleaved,
    // each key's N runs are minutes apart, so a stall inflates at most
    // one of them and min-of-N filters it. Fixtures and shared frames
    // warm on pass 1 exactly as they would on a key's first run.
    //
    // SHARED-RUN PRIMES: a session-memoized frame consumed by several
    // keys (the tumbling-Append stream of i9/i10/i12/i14; the bm25 and
    // fused-ranking frames of l26/l51/l52) is built by whichever consumer
    // runs first, so its one-time build would land in no key's min-of-N.
    // Each is timed COLD here as its own record entry, so the suite total
    // counts the shared build exactly once and each consumer times only
    // its own work. Skipped for a key subset (first consumer pays there).
    def primeOne(name: String, run: () => Unit): (String, Vector[Double], Int) = {
      val t0 = System.nanoTime()
      try {
        run()
        (name, Vector((System.nanoTime() - t0) / 1e9), 0)
      } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          (name, Vector.empty[Double], 1)
      }
    }
    val primed: Seq[(String, Vector[Double], Int)] =
      if (only.nonEmpty) Nil
      else Seq(
        primeOne("_shared_stream_prime",
          () => operators.Streaming.primeSharedTumbling(spark, sfDir)),
        primeOne("_shared_retrieval_prime",
          () => operators.TrainOps.primeSharedRetrieval(spark, sfDir)))
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val fails = scala.collection.mutable.Map.empty[String, Int]
    for (_ <- 1 to repeat; (name, fn) <- keys) {
      val t0 = System.nanoTime()
      // materialize the FULL physical plan (queryExecution.toRdd): a
      // plain Dataset.count() lets Catalyst prune computed columns,
      // silently under-measuring projection-heavy queries
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        // only SUCCESSFUL runs are timed: a throwing run is near-instant,
        // and folding it into min-of-N would report a broken query as the
        // fastest in the suite
        times(name) = times.getOrElse(name, Vector.empty) :+
          (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          fails(name) = fails.getOrElse(name, 0) + 1
      }
    }
    val results = primed ++ keys.map { case (name, _) =>
      (name, times.getOrElse(name, Vector.empty), fails.getOrElse(name, 0))
    }
    val qs = results.map { case (k, v, _) =>
      s"\"" + k + "\":" + (if (v.nonEmpty) v.min else -1.0)
    }.mkString("{", ",", "}")
    val runs = results.map { case (k, v, _) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, f) if f > 0 => s"\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v.nonEmpty => v.min }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // persist the full JSON (per-run times included): a log tail that
    // truncates long lines would otherwise lose it
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    // LAST stdout line is the compact, self-contained record: suite total,
    // per-key count, the full per-query min-of-N map, error map, 10
    // slowest and the full-record path, so a reader that keeps only the
    // last line can still diff per query. Combined with build.sbt's
    // showSuccess := false this line is the final line of the sbt run.
    val slowest = results.collect { case (k, v, _) if v.nonEmpty => (k, v.min) }
      .sortBy(-_._2).take(10)
      .map { case (k, s) => s"\"" + k + "\":" + f3(s) }.mkString("{", ",", "}")
    val nOk = results.count(_._2.nonEmpty)
    // errors CAPPED at 10 keys (+ a count of the rest) in the compact line:
    // a mass failure is exactly when a truncated tail matters most, and
    // the full map would cut the line mid-JSON (the full map is in the
    // queries_file record above)
    val errPairs = results.collect { case (k, _, f) if f > 0 => (k, f) }
    val errsCompact = (errPairs.take(10).map { case (k, f) => s"\"" + k + s"\":$f" } ++
      (if (errPairs.size > 10) Seq(s"\"_more_failed_keys\":${errPairs.size - 10}") else Nil))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nOk,"queries":$qs,"errors":$errsCompact,"slowest":$slowest,"queries_file":"$out","sf":"$sfDir"}""")
    spark.stop()
  }
}
