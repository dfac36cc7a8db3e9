package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import scala.jdk.CollectionConverters._

import graft.operators.{StatefulExec, StatefulLogic}
import graft.sources.KafkaShim
import graft.streaming.StreamingOps

import Stream._

final case class Ev(user_id: Long, event_id: Long, kind: Int, amount: Long, created_ms: Long,
                    ts: java.sql.Timestamp)
final case class Acc(n: Long, total: Long)
final case class Running(user_id: Long, event_id: Long, created_ms: Long, n: Long, total: Long)

/** Per-user running count and amount total; one output row per event. */
object RunningTotals extends StatefulLogic[Long, Ev, Acc, Running] {
  def zero: Acc = Acc(0L, 0L)
  def update(k: Long, v: Ev, s: Acc): (Acc, IterableOnce[Running]) = {
    val s2 = Acc(s.n + 1, s.total + v.amount)
    (s2, Iterator.single(Running(k, v.event_id, v.created_ms, s2.n, s2.total)))
  }
}

/** Open loop: the pipeline's two queries run for the whole measurement,
  * each as one long-lived query whose processing-time trigger fires every
  * `DeltaMs` on the epoch-aligned grid Spark uses. Phase 1 drains a
  * pre-written backlog. In phase 2, which is the window, a generator thread
  * appends one seeded event batch to the `KafkaShim` topic shortly after
  * each trigger, so each trigger finds exactly one new batch and the
  * trigger wait is the same in every run. */
final class Stream(a: Args) extends Workload {
  private val root = s"${a.out}/kafka"
  private val topic = "events"
  private val DeltaMs = 3000L // gen.STREAM_DELTA_MS
  private val DueAfterTickMs = 100L
  private var batches = Map.empty[Int, Array[Row]]
  private val progress = new ProgressLog

  def open(spark: SparkSession): Unit = {
    spark.read.parquet(s"${a.data}/stream_events.parquet").count()
    spark.streams.addListener(progress)
  }

  /** Warms the pipeline on a small separate topic (query start, a backlog
    * batch, an appended batch against existing state), so that phase 1
    * measures catching up rather than JVM warm-up, then pre-writes the
    * phase-1 backlog into the measured topic. */
  def prime(spark: SparkSession): Map[String, Any] = {
    batches = spark.read.parquet(s"${a.data}/stream_events.parquet").collect()
      .groupBy(_.getInt(0))
    val backlog = batches(-1)
    val warmMs = System.currentTimeMillis()
    KafkaShim.write(topicRows(spark, backlog.take(1000).toSeq, warmMs, warmMs), root, "warm",
      Seq("key", "value"), SaveMode.Overwrite)
    val warm = startAll(spark, "warm", Trigger.ProcessingTime(0L))
    awaitRows(warm, 1000L)
    KafkaShim.write(topicRows(spark, batches(0).toSeq, warmMs, warmMs), root, "warm",
      Seq("key", "value"), SaveMode.Append)
    awaitRows(warm, 1000L + batches(0).length)
    stopAll(warm)
    val baseMs = System.currentTimeMillis()
    KafkaShim.write(topicRows(spark, backlog.toSeq, baseMs, baseMs), root, topic,
      Seq("key", "value"), SaveMode.Overwrite)
    Map("backlog" -> backlog.length, "backlog_base_ms" -> baseMs)
  }

  private val queries: Seq[(String, String => SparkSession => DataFrame)] =
    Seq("state" -> (t => stateQuery(root, t)), "windows" -> (t => windowQuery(root, t)))

  /** Starts both queries over `topic` with `trigger`. The sink is the
    * marker-gated exactly-once parquet sink of
    * `StreamingOps.exactlyOnceParquetSink`, reached through
    * `StreamingOps.cdcApplyStream`, the variant that takes a trigger (the
    * former is fixed to AvailableNow). */
  private def startAll(spark: SparkSession, topic: String,
                       trigger: Trigger): Seq[(String, StreamingQuery)] =
    queries.map { case (name, build) =>
      val df = Trace.span("build", "api", 0L)(build(topic)(spark))
      val q = StreamingOps.cdcApplyStream(df, s"${a.out}/sink/$topic-$name",
        s"${a.out}/ckpt/$topic-$name", trigger)
      val n = if (topic == this.topic) name else s"$topic-$name"
      progress.name(q.id, n)
      n -> q
    }

  /** Waits until every query has read `rows` input rows; unlike
    * `processAllAvailable` it does not wait for the next trigger to find
    * nothing new. */
  private def awaitRows(qs: Seq[(String, StreamingQuery)], rows: Long): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (qs.exists { case (n, _) => progress.rows(n) < rows }) {
      qs.foreach { case (n, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"query $n failed", e))
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"queries did not read $rows rows within 60 s")
      Thread.sleep(5)
    }
  }

  private def stopAll(qs: Seq[(String, StreamingQuery)]): Unit = qs.foreach { case (name, q) =>
    q.stop()
    q.exception.foreach(e => throw new IllegalStateException(s"query $name failed", e))
  }

  def measure(spark: SparkSession, w: Window): Map[String, Any] = {
    Trace.enabled = w.traced
    // phase 1: start the queries and drain the backlog; the first trigger
    // fires at start
    val backlogRows = batches(-1).length.toLong
    val p1 = Trace.nowUs
    val qs = startAll(spark, topic, Trigger.ProcessingTime(DeltaMs))
    awaitRows(qs, backlogRows)
    val catchupS = (qs.map { case (n, _) => progress.endUsAt(n, backlogRows) }.max - p1) / 1e6
    // phase 2, the window: one append due just after each trigger from the
    // next one on; the listeners go in a third of the way through it
    val t0 = (System.currentTimeMillis() / DeltaMs + 1) * DeltaMs + DueAfterTickMs
    Thread.sleep(math.max(0L, t0 - System.currentTimeMillis()))
    w.restart()
    val traceDueUs = w.startUs + (w.endUs - w.startUs) / 3
    val appended = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var appendedBatches = 0
    val lateMs, appendMs = ArrayBuffer.empty[Long]
    val genErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    val gen = new Thread(() => {
      var k = 0
      while (batches.contains(k) && k * DeltaMs < w.seconds * 1000L) {
        val due = t0 + k * DeltaMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val started = System.currentTimeMillis()
        try Trace.span("append", "sources", -1L - k) {
          KafkaShim.write(topicRows(spark, batches(k).toSeq, t0, due), root, topic,
            Seq("key", "value"), SaveMode.Append)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] append $k failed: $e")
          genErrors.incrementAndGet()
        }
        appendMs.synchronized {
          lateMs += started - due
          appendMs += System.currentTimeMillis() - started
        }
        appended.addAndGet(batches(k).length)
        appendedBatches = k + 1
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    val backlog = ArrayBuffer.empty[(Long, Long, Long)] // (us, appended, committed)
    while (w.open) {
      w.install(spark, traceDueUs)
      Thread.sleep(100)
      backlog += ((Trace.nowUs, appended.get, progress.rows("state") - backlogRows))
    }
    gen.join()
    // final drain: everything appended is committed before the checks
    awaitRows(qs, backlogRows + appended.get)
    stopAll(qs)
    spark.streams.removeListener(progress)
    Map(
      "catchup_s" -> catchupS, "phase2_t0_ms" -> t0, "delta_ms" -> DeltaMs,
      "appended_batches" -> appendedBatches, "appended_events" -> appended.get,
      "gen_errors" -> genErrors.get,
      "gen_late_ms" -> lateMs.toList, "append_ms" -> appendMs.toList,
      "backlog_samples" -> backlog.toList, "progress" -> progress.all)
  }
}

/** Collects every micro-batch's progress from the public
  * `StreamingQueryListener`, keyed by the harness's name for the query.
  * With tracing on, each batch also becomes a span. */
final class ProgressLog extends StreamingQueryListener {
  private val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]
  private val events = ArrayBuffer.empty[Map[String, Any]]

  def name(id: java.util.UUID, n: String): Unit = names.put(id, n)

  def rows(query: String): Long = synchronized(
    events.iterator.filter(_("query") == query).map(_("rows").asInstanceOf[Long]).sum)

  def all: List[Map[String, Any]] = synchronized(events.toList)

  /** End of the batch with which `query` had read `rows` rows in all. */
  def endUsAt(query: String, rows: Long): Long = synchronized {
    var seen = 0L
    events.iterator.filter(_("query") == query).find { e =>
      seen += e("rows").asInstanceOf[Long]
      seen >= rows
    }.map(_("end_us").asInstanceOf[Long]).get
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val name = names.getOrDefault(p.id, p.id.toString)
    val st = p.stateOperators.toSeq
    def sumState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
      st.map(f).sum
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val endUs = startUs + durations.getOrElse("triggerExecution", 0L) * 1000L
    if (Trace.enabled) Trace.record(name, "streaming", p.batchId, startUs, endUs)
    synchronized {
      events += Map(
        "query" -> name, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_us" -> startUs, "end_us" -> endUs, "traced" -> Trace.enabled,
        "duration_ms" -> durations,
        "state_rows_total" -> sumState(_.numRowsTotal),
        "state_rows_updated" -> sumState(_.numRowsUpdated),
        "state_memory_bytes" -> sumState(_.memoryUsedBytes),
        "state_commit_ms" -> sumState(_.commitTimeMs),
        "late_rows_dropped" -> sumState(_.numRowsDroppedByWatermark))
    }
  }
}

/** The stream pipeline. */
object Stream {
  val Delay = "10 seconds"

  /** Topic rows for schedule rows `(batch, event_id, user_id, kind, amount,
    * ts_rel_ms, ...)`: event time is `baseMs + ts_rel_ms`, and the creation
    * stamp rides in the value. */
  def topicRows(spark: SparkSession, rows: Seq[Row], baseMs: Long, createdMs: Long): DataFrame = {
    import spark.implicits._
    rows.map { r =>
      val user = r.getLong(2)
      ((user % 4).toInt, user.toString,
        s"${r.getLong(1)}|${r.getInt(3)}|${r.getLong(4)}|$createdMs",
        new java.sql.Timestamp(baseMs + r.getLong(5)))
    }.toDF("partition", "key", "value", "ts")
  }

  def parsed(spark: SparkSession, root: String, topic: String): DataFrame = {
    val v = F.split(F.col("value"), "\\|")
    KafkaShim.readStream(spark, root, topic).select(
      F.col("key").cast("long").as("user_id"), v.getItem(0).cast("long").as("event_id"),
      v.getItem(1).cast("int").as("kind"), v.getItem(2).cast("long").as("amount"),
      v.getItem(3).cast("long").as("created_ms"), F.col("ts"))
  }

  /** Running state: epochs (the watermark), event-id dedup within it, then
    * per-user totals in RocksDB-backed `transformWithState`. */
  def stateQuery(root: String, topic: String)(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ds = graft.time.EventTime.generateEpochs(parsed(spark, root, topic), "ts", Delay)
      .dropDuplicatesWithinWatermark("event_id").as[Ev]
    StatefulExec.streamTws[Long, Ev, Acc, Running](ds, _.user_id, RunningTotals).toDF()
  }

  /** Window counts per event kind over the deduplicated stream. Spark refuses
    * a second watermark on one stream, so the count runs under the watermark
    * `dedupExactStream` defines, through `EventTime.tumblingAgg`, rather than
    * through `StreamingOps.windowedCounts`, which would define its own. */
  def windowQuery(root: String, topic: String)(spark: SparkSession): DataFrame =
    graft.time.EventTime.tumblingAgg(
      StreamingOps.dedupExactStream(
        parsed(spark, root, topic).withColumn("event_key", F.col("event_id").cast("string")),
        "ts", Delay, "event_key"),
      F.col("ts"), "5 seconds", Seq(F.col("kind")), Seq(F.count(F.lit(1)).as("n")))
      .select(F.col("kind"), F.col("window.start").as("window_start"),
        F.col("window.end").as("window_end"), F.col("n"))
}
