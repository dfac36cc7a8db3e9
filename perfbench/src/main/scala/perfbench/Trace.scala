package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds so harness spans and
  * listener timestamps (epoch milliseconds, truncated) share one clock. */
final case class Span(id: Int, parent: Int, op: Long, name: String, layer: String,
                      startUs: Long, endUs: Long, counts: Map[String, Double])

/** Spans around the harness's own calls into graft, kept in memory and
  * written out as JSONL when the run ends. With tracing off every call is a
  * plain pass-through. */
object Trace {
  @volatile var enabled = false
  @volatile var recorder: Recorder = _

  /** The wall clock Spark stamps its events with, read to the microsecond,
    * so a span boundary and a listener timestamp in the same millisecond
    * are ordered correctly. */
  def nowUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  private def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Run `body` inside a span. Listener counts are drained and snapshotted
    * at both boundaries and the span carries their difference. */
  def span[T](name: String, layer: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      val before = boundary()
      val start = nowUs
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        val end = nowUs
        val delta = Recorder.diff(boundary(), before)
        add(Span(id, parent, op, name, layer, start, end, delta))
      }
    }

  /** A span whose interval was measured elsewhere (a streaming progress
    * event); it carries no listener counts. */
  def record(name: String, layer: String, op: Long, startUs: Long, endUs: Long): Unit =
    add(Span(nextId.getAndIncrement(), 0, op, name, layer, startUs, endUs, Map.empty))

  private def boundary(): Map[String, Double] = {
    val r = recorder
    if (r == null) Map.empty else { r.drain(); r.counters }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "counts" -> s.counts)))
    } finally w.close()
  }
}

/** Collects the public listener streams: scheduler events and the
  * per-execution planning phases. (Streaming progress is read from each
  * query's `recentProgress`.) */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  private val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobs = ArrayBuffer.empty[(Long, Long)]           // (start us, end us)
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val shuffleStages = scala.collection.mutable.Set.empty[Int]
  val skews = ArrayBuffer.empty[Double]
  val phases = ArrayBuffer.empty[(String, Long, Long)] // (phase, start us, end us)

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  def counters: Map[String, Double] = synchronized {
    c.toMap ++ Map(
      "codegen_ms" -> PerfbenchBridge.codegenCompileNs / 1e6,
      "codegen_classes" -> graft.tools.StageMetricsListener.janinoCompiles().toDouble)
  }

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    jobStart(e.jobId) = e.time * 1000L
    if (e.stageInfos.exists(s => s.details.contains("CacheScope"))) add("cache_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time * 1000L)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).foreach { ts =>
      if (shuffleStages.remove(id) && ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        skews += sorted.last / math.max(med, 1.0)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("task_run_ms", m.executorRunTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && written == 0) add("empty_tasks", 1)
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
      if (m.shuffleReadMetrics.totalBlocksFetched > 0) shuffleStages += e.stageId
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"${phase}_ms", s.durationMs.toDouble)
        phases += ((phase, s.startTimeMs * 1000L, s.endTimeMs * 1000L))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

object Recorder {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator.map(k => k -> (a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0)))
      .filter(_._2 != 0.0).toMap

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    Trace.recorder = r
    r
  }
}
