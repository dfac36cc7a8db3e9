package perfbench

import org.apache.spark.sql.SparkSession

import graft.tools.StageMetricsListener

/** One operation of a closed loop. */
final case class Op(name: String, startUs: Long, endUs: Long, ok: Boolean, traced: Boolean)

/** A workload the harness can run. `open` is the per-session warm-up;
  * `prime` is the first, verifying pass, whose outputs the correctness
  * checks read, followed by the warm-up; `measure` is the timed loop. */
trait Workload {
  def open(spark: SparkSession): Unit
  def prime(spark: SparkSession): Map[String, Any]
  def measure(spark: SparkSession, window: Window): Map[String, Any]
  /** Extra traced-run measurements, taken after the window's counters are
    * read; may stop `spark`. */
  def traceExtras(spark: SparkSession): Map[String, Any] = Map.empty
}

/** The timed window. With tracing on, its first third runs without any
  * listener; after that the listeners are installed and the operations of
  * a closed loop alternate between traced and untraced, so the untraced
  * ones give the tracing overhead under the same warm-up and listener
  * load. */
final class Window(val seconds: Int, val traced: Boolean) {
  @volatile private var start: Long = Trace.nowUs
  def startUs: Long = start
  def endUs: Long = start + seconds * 1000000L
  private def traceDueUs: Long = if (traced) start + seconds * 1000000L / 3 else Long.MaxValue
  @volatile var traceFromUs: Long = Long.MaxValue

  /** Starts the window afresh, after work that is measured on its own. */
  def restart(): Unit = start = Trace.nowUs
  var countersAtTrace: Map[String, Double] = Map.empty

  def open: Boolean = Trace.nowUs < endUs

  private var polled = 0L

  /** Installs the listeners once `dueUs` has passed; says whether they
    * are in. */
  def install(spark: SparkSession, dueUs: Long): Boolean = synchronized {
    if (traced && traceFromUs == Long.MaxValue && Trace.nowUs >= dueUs) {
      val r = Recorder.install(spark)
      r.drain()
      countersAtTrace = r.counters
      traceFromUs = Trace.nowUs
    }
    traceFromUs != Long.MaxValue
  }

  /** Called before each operation of a closed loop; says whether to trace
    * it. */
  def poll(spark: SparkSession): Boolean = synchronized {
    if (install(spark, traceDueUs)) {
      polled += 1
      Trace.enabled = polled % 2 == 1
    }
    Trace.enabled
  }
}

final case class Args(workload: String, data: String, out: String, seconds: Int,
                      seed: Long, trace: Boolean)

object Main {
  val slots: Int = Runtime.getRuntime.availableProcessors()

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("data"), need("out"), need("seconds").toInt, need("seed").toLong,
      m.getOrElse("trace", "0") == "1")
  }

  def session(a: Args, slots: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
    if (a.workload == "curate")
      // The corpus shuffles about a megabyte per pass, which adaptive
      // execution would coalesce into one partition, leaving the text
      // kernels on one core; keep a partition per slot.
      b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    if (a.workload == "stream") // transformWithState needs the RocksDB state store
      b.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // Commits write a changelog rather than a full snapshot, as a
        // continuously running pipeline would.
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    new java.io.File(a.out).mkdirs()
    val witnessBefore = Witness.sample()
    val workload: Workload = a.workload match {
      case "curate" => new Curate(a)
      case "stream" => new Stream(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Set-up is one cold path from JVM start: class loading, the session,
    // the per-session warm-up and the first, verifying pass.
    val spark = session(a, slots)
    workload.open(spark)
    val sessionS = (Trace.nowUs - jvmStartUs) / 1e6
    val tPrime = Trace.nowUs
    val primed = workload.prime(spark)
    val primeS = (Trace.nowUs - tPrime) / 1e6
    val setupS = (Trace.nowUs - jvmStartUs) / 1e6
    val effectiveCores = Witness.effectiveCores()
    val jitBefore = StageMetricsListener.jitCompileMs()
    val window = new Window(a.seconds, a.trace)
    val measured = workload.measure(spark, window)
    val windowEndUs = Trace.nowUs
    val jitAfter = StageMetricsListener.jitCompileMs()
    val r = Trace.recorder
    val layer: Map[String, Any] =
      if (r == null) Map.empty
      else {
        r.drain()
        Trace.enabled = false
        r.synchronized(Map(
          "counters" -> Recorder.diff(r.counters, window.countersAtTrace),
          "jobs" -> r.jobs.filter(_._1 >= window.traceFromUs).toList,
          "phases" -> r.phases.filter(_._2 >= window.traceFromUs).toList,
          "skews" -> r.skews.toList))
      }
    val extras = if (a.trace) workload.traceExtras(spark) else Map.empty[String, Any]
    if (a.trace) Trace.writeJsonl(s"${a.out}/spans.jsonl")
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "slots" -> slots,
      "setup_s" -> setupS, "session_s" -> sessionS, "prime_s" -> primeS,
      "window" -> Map("start_us" -> window.startUs, "end_us" -> windowEndUs,
        "trace_from_us" -> (if (window.traceFromUs == Long.MaxValue) 0L else window.traceFromUs)),
      "prime" -> primed, "measured" -> measured, "layer" -> layer, "extras" -> extras,
      "peak_rss_mb" -> Witness.peakRssMb(),
      "witness" -> Map(
        "runnable_before" -> witnessBefore, "runnable_after" -> Witness.sample(),
        "jit_ms_window" -> (jitAfter - jitBefore), "effective_cores" -> effectiveCores,
        "codegen_compile_ms_total" -> org.apache.spark.PerfbenchBridge.codegenCompileNs / 1e6,
        "cores" -> slots))
    spark.stop()
    val tmp = new java.io.File(s"${a.out}/result.json.tmp")
    java.nio.file.Files.writeString(tmp.toPath, Json(result))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(s"${a.out}/result.json").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // End the JVM once the result is written, so that no thread Spark or
    // RocksDB leaves behind can keep it running.
    System.exit(0)
  }
}

/** The contention witness stamped into every run: runnable threads from
  * /proc/loadavg, cumulative JIT compile time, and an effective-cores probe
  * (one fixed integer kernel timed on one thread and on every core). */
object Witness {
  def sample(): Int =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(3).split("/")(0).toInt
    catch { case scala.util.control.NonFatal(_) => -1 }

  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  @volatile private var sink = 0L
  private def burn(iters: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      h = java.lang.Long.rotateLeft(h * -7046029254386353131L, 31)
      h ^= (h >>> 33); i += 1
    }
    h
  }

  def effectiveCores(): Double = {
    val iters = 20000000
    sink ^= burn(iters)
    val t1 = System.nanoTime(); sink ^= burn(iters)
    val solo = (System.nanoTime() - t1).toDouble
    val n = Runtime.getRuntime.availableProcessors()
    val threads = (1 to n).map(_ => new Thread(() => { sink ^= burn(iters) }))
    val t2 = System.nanoTime(); threads.foreach(_.start()); threads.foreach(_.join())
    n * solo / (System.nanoTime() - t2).toDouble
  }
}
