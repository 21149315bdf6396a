package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one process, `local[cpus]`, one
  * client. Generated inputs come from the Python front end
  * (`perfbench/run.py`); this side only times calls into the program
  * and writes `result.json` for the front end to check and summarize.
  *
  *   perfbench.Main workload=<name> in=<dir> out=<dir> seconds=<s>
  *     trace=<0|1> cpus=<n> setup_reps=<n> min_passes=<n>
  *
  * Run shape: `setup_reps` set-ups (fresh SparkSession + the
  * workload's first read of its inputs), then passes over the
  * workload's operations until `seconds` have elapsed since pass 1
  * began, and at least `min_passes` of them. Pass 1 warms the JVM and
  * Spark up and keeps its outputs for checking (outside the timed
  * regions); the later passes are the measured ones. With trace=1
  * every operation is traced.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = kv("cpus").toInt
    val out = kv("out")
    val traceMode = kv("trace") == "1"
    val seconds = kv("seconds").toDouble
    val setupReps = kv("setup_reps").toInt
    val minPasses = kv("min_passes").toInt
    Files.createDirectories(Paths.get(out))
    // instruments only in the traced run; an untraced run carries none
    val logs = if (traceMode) LogCounter.attach() else new LogCounter

    val workload: Workload = kv("workload") match {
      case "pipeline_daily" => new PipelineDaily(kv("in"), out)
      case "curation" => new Curation(kv("in"), out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, several times: each stops the previous session
    val setupS = mutable.ArrayBuffer[Double]()
    val setupNs = mutable.ArrayBuffer[Seq[Long]]()
    val firstReadMs = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      graft.sources.Tables.invalidate()
      val t0 = System.nanoTime()
      spark = session(cpus, out)
      val t1 = System.nanoTime()
      workload.open(spark)
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      setupNs += Seq(t0, t2)
      firstReadMs += (t2 - t1) / 1e6
    }

    val tracer = new Tracer(spark.sparkContext, logs)
    if (traceMode) spark.sparkContext.addSparkListener(new SpanListener(tracer))
    val runner = new Runner(tracer, traceMode, minPasses)

    val t0 = System.nanoTime()
    runner.deadline = t0 + (seconds * 1e9).toLong
    val cpu0 = processCpuNs
    workload.pass(spark, runner, 1, capture = true)
    val passCpuS = (processCpuNs - cpu0) / 1e9
    val heapLiveMb = liveHeapMb
    val checks = workload.finish(spark)
    var passNo = 2
    while (runner.more(passNo)) {
      workload.pass(spark, runner, passNo, capture = false)
      passNo += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    val stamp = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"))
    // stopping drains the listener bus, so every task event has landed
    spark.stop()
    val result = Json.obj(Seq(
      "stamp" -> stamp.toMap,
      "setup_s" -> setupS.toSeq,
      "setup_ns" -> setupNs.toSeq,
      "first_read_ms" -> firstReadMs.toSeq,
      "window_s" -> windowS,
      "peak_rss_mb" -> peakRssMb,
      "heap_live_mb" -> heapLiveMb,
      "pass_cpu_s" -> passCpuS,
      "checks" -> checks,
      "ops" -> runner.ops.toSeq.map(_.toMap),
      "spans" -> RawJson(tracer.spans.map(_.toJson).mkString("[", ",", "]"))))
    Files.writeString(Paths.get(s"$out/result.json"), result)
  }

  def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** CPU time of every thread of this process (tasks, JIT, GC). */
  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after a full collection: what a pass leaves
    * behind (caches, memos, retained plans). Spark's ContextCleaner
    * frees blocks of collected RDDs only after a collection, on its
    * own thread, so collect until the figure stops falling. */
  private def liveHeapMb: Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, rounds) = (Double.MaxValue, used, 1)
    while (cur < prev - 1 && rounds < 8) {
      Thread.sleep(250)
      prev = cur
      cur = used
      rounds += 1
    }
    cur
  }

  /** Peak resident set of this process (Linux VmHWM). */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Already-serialized JSON, embedded as is. */
final case class RawJson(text: String) {
  override def toString: String = text
}

/** Times operations and records one entry per operation. */
final class Runner(val tracer: Tracer, traceMode: Boolean, minPasses: Int) {
  var deadline: Long = Long.MaxValue
  val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private var nextOp = 1L

  /** Whether pass `passNo` (or its next operation) is still to run:
    * the first `minPasses` always complete, later ones stop at the
    * deadline. */
  def more(passNo: Int): Boolean = passNo <= minPasses || System.nanoTime() < deadline

  /** Run one operation. `body` gets the op id and the record to add
    * fields to, and returns work to do after the clock stops (keeping
    * outputs for checking); an exception marks the operation failed. */
  def op(kind: String, pass: Int, index: Int, layer: String)
      (body: (Long, mutable.LinkedHashMap[String, Any]) => () => Unit): Unit = {
    val id = nextOp
    nextOp += 1
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "kind" -> kind, "pass" -> pass, "index" -> index)
    tracer.enabled = traceMode
    val t0 = System.nanoTime()
    try {
      val after = tracer.span(layer, id)(body(id, rec))
      val t1 = System.nanoTime()
      rec("ms") = (t1 - t0) / 1e6
      rec("t0_ns") = t0  // monotonic clock, as the front end's host probe
      rec("t1_ns") = t1
      tracer.enabled = false
      after()
      rec("ok") = true
    } catch {
      case e: Throwable =>
        rec.getOrElseUpdate("ms", (System.nanoTime() - t0) / 1e6)
        rec("ok") = false
        rec("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
    } finally {
      tracer.enabled = false
      ops += rec
    }
  }

  /** Time a block, record its milliseconds under `key`, and put a
    * span named `span` around it. */
  def timed[T](rec: mutable.LinkedHashMap[String, Any], key: String,
      span: String, op: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(span, op)(body)
    finally rec(key) = (System.nanoTime() - t0) / 1e6
  }
}
