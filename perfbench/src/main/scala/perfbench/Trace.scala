package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into the program. `op` is the
  * operation (request, query run, pipeline day) the span belongs to;
  * `counters` are filled by [[SpanListener]] for the Spark work run
  * under the span's job group, and by the tracer for log counts. */
final class Span(val id: Long, val parent: Long, val name: String,
    val op: Long, val startNs: Long) {
  @volatile var endNs: Long = -1L
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val skews = mutable.ArrayBuffer[Double]()

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def addSkew(v: Double): Unit = synchronized { skews += v }

  def toJson: String = synchronized {
    Json.obj(Seq("id" -> id, "parent" -> parent, "name" -> name,
      "op" -> op, "start_ns" -> startNs, "end_ns" -> endNs,
      "counters" -> counters.toMap, "stage_skews" -> skews.toSeq))
  }
}

/** Counts the two health warnings the program's materialization
  * barriers can log: a block stored twice ("already exists") and an
  * accumulator update dropped by the DAGScheduler. */
final class LogCounter extends AbstractAppender("perfbench-log-counter",
    null, null, true, Property.EMPTY_ARRAY) {
  val blocksRestored = new AtomicLong
  val accumDropped = new AtomicLong

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    if (e.getLoggerName.endsWith("BlockManager") && msg.contains("already exists"))
      blocksRestored.incrementAndGet()
    else if (e.getLoggerName.endsWith("DAGScheduler") &&
        msg.startsWith("Failed to update accumulator"))
      accumDropped.incrementAndGet()
  }
}

object LogCounter {
  /** Attach to the root logger at WARN; events from the program's
    * loggers reach it through additivity. */
  def attach(): LogCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val counter = new LogCounter
    counter.start()
    ctx.getConfiguration.getRootLogger.addAppender(counter, Level.WARN, null)
    ctx.updateLoggers()
    counter
  }
}

/** Spans kept in memory. Disabled, `span` just runs its body. Enabled,
  * each span sets a Spark job group so the listener can attribute
  * jobs, stages and tasks to the innermost open span. The driver runs
  * one client, so one thread opens and closes every span. */
final class Tracer(sc: SparkContext, logs: LogCounter) {
  @volatile var enabled = false
  private val all = mutable.ArrayBuffer[Span]()
  private val byGroup = TrieMap[String, Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L

  private def group(s: Span) = s"perfbench-${s.id}"

  def spanOfGroup(g: String): Option[Span] = byGroup.get(g)

  def spans: Seq[Span] = all.toSeq

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, stack.headOption.fold(0L)(_.id), name, op,
        System.nanoTime())
      nextId += 1
      all += s
      byGroup(group(s)) = s
      stack = s :: stack
      sc.setJobGroup(group(s), name)
      val restored0 = logs.blocksRestored.get
      val dropped0 = logs.accumDropped.get
      try body
      finally {
        s.endNs = System.nanoTime()
        s.add("blocks_restored", (logs.blocksRestored.get - restored0).toDouble)
        s.add("accum_dropped", (logs.accumDropped.get - dropped0).toDouble)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Attributes every job, stage and task to the span whose job group
  * submitted it. Task metrics are summed per span; per stage the
  * ratio of the longest to the median task run time is kept (skew).
  * Listener events arrive on one bus thread. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = TrieMap[Int, Span]()
  private val stageTaskMs = TrieMap[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(tracer.spanOfGroup(_))
      .foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan(_) = s)
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val info = e.taskInfo
      s.add("tasks", 1)
      if (info.failed || info.killed) s.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("sched_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime).toDouble)
        s.add("input_b", m.inputMetrics.bytesRead.toDouble)
        s.add("output_b", m.outputMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_b", m.diskBytesSpilled.toDouble)
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer[Long]()) += m.executorRunTime
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { s =>
      s.add("stages", 1)
      stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ms =>
        if (ms.size >= 2) {
          val sorted = ms.sorted
          val median = sorted(sorted.size / 2).max(1L)
          s.addSkew(sorted.last.toDouble / median)
        }
      }
    }
  }
}
