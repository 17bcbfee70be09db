package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Work counted while one phase of one key ran. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, schedDelayMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB, inputRows = 0L
  var writtenB, writtenRows, writeNs = 0L
  var batches, emptyBatches, batchMs, addBatchMs, batchRows = 0L
  var stateRows, stateB = 0L // largest total seen in one progress event
  var exchanges = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB; inputRows += o.inputRows
    writtenB += o.writtenB; writtenRows += o.writtenRows; writeNs += o.writeNs
    batches += o.batches; emptyBatches += o.emptyBatches
    batchMs += o.batchMs; addBatchMs += o.addBatchMs; batchRows += o.batchRows
    stateRows = math.max(stateRows, o.stateRows); stateB = math.max(stateB, o.stateB)
    exchanges += o.exchanges
  }

  def json: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs, "shuffle_read_b" -> shuffleReadB,
    "shuffle_write_b" -> shuffleWriteB, "spill_b" -> spillB, "input_b" -> inputB,
    "input_rows" -> inputRows,
    "written_b" -> writtenB, "written_rows" -> writtenRows, "write_ns" -> writeNs,
    "batches" -> batches, "empty_batches" -> emptyBatches, "batch_ms" -> batchMs,
    "add_batch_ms" -> addBatchMs, "batch_rows" -> batchRows,
    "state_rows" -> stateRows, "state_b" -> stateB, "exchanges" -> exchanges
  ).map { case (k, v) => k -> v.toString })
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Benchmark-owned listeners. Every event is added to `scope`, the
  * counters of the phase that is running; the harness drains the listener
  * bus before it moves `scope` on, so no event lands in the wrong phase.
  * Spark jobs become child spans of the phase span `parent`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var scope: Counts = new Counts
  @volatile var parent: Int = 0
  private val spans = ArrayBuffer.empty[Span]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private var nextId = 0

  def open(): Int = synchronized { nextId += 1; nextId }
  def close(id: Int, parent: Int, name: String, startMs: Double, endMs: Double): Unit =
    synchronized(spans += Span(id, parent, name, startMs, endMs))
  def allSpans: Seq[Span] = synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    scope.jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t =>
      close(open(), parent, s"job ${e.jobId}", t.toDouble, e.time.toDouble)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(scope.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = scope
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task duration not spent running,
      // deserialising, serialising the result or fetching it
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputB += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.writtenB += m.outputMetrics.bytesWritten
      c.writtenRows += m.outputMetrics.recordsWritten
    }
  }

  private val writeCommand =
    "(?i).*(insert|append|overwrite|write|asselect|merge|delete|update|saveinto).*".r
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (writeCommand.matches(qe.commandExecuted.getClass.getSimpleName))
      synchronized(scope.writeNs += durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val c = scope
        c.batches += 1
        if (p.numInputRows == 0) c.emptyBatches += 1
        c.batchRows += p.numInputRows
        def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.batchMs += dur("triggerExecution")
        c.addBatchMs += dur("addBatch")
        c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        c.stateB = math.max(c.stateB, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }
}

/** The few JSON shapes the harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
