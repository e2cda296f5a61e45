package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{GraftbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer: name, wall interval, the span that
  * caused it and the op it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Spark counters of one span, filled by [[SpanCounters]]. */
object Counter extends Enumeration {
  val Jobs, Stages, Tasks, TaskFailures, ShuffleRead, ShuffleWrite, Spill,
    CpuNs, GcMs, PeakExecMem = Value
}

/** Attributes jobs, stages and task metrics to the span whose id was
  * the `graftbench.span` local property when the job was submitted.
  * Events without that property (untraced work) are ignored. */
final class SpanCounters extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toLong)

  private def add(span: Long, c: Counter.Value, v: Long): Unit = {
    val a = bySpan.computeIfAbsent(span, _ => new Array[Long](Counter.maxId))
    a.synchronized {
      if (c == Counter.PeakExecMem) a(c.id) = math.max(a(c.id), v)
      else a(c.id) += v
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => add(s, Counter.Jobs, 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      add(s, Counter.Stages, 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      add(s, Counter.Tasks, 1)
      if (e.reason != Success) add(s, Counter.TaskFailures, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(s, Counter.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        add(s, Counter.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        add(s, Counter.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(s, Counter.CpuNs, m.executorCpuTime)
        add(s, Counter.GcMs, m.jvmGCTime)
        add(s, Counter.PeakExecMem, m.peakExecutionMemory)
      }
    }

  def of(span: Long): Array[Long] =
    Option(bySpan.get(span)).map(_.clone()).getOrElse(new Array[Long](Counter.maxId))
}

/** In-memory span recorder. When `enabled` is false every call runs
  * the body untouched and records nothing; [[on]] switches recording
  * per op or per pass so a traced run can interleave untraced work
  * and measure the tracing overhead. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = new java.util.ArrayDeque[Long]()
  val spans = ArrayBuffer.empty[Span]
  val counters: Option[SpanCounters] =
    if (enabled) { val c = new SpanCounters; sc.addSparkListener(c); Some(c) } else None
  @volatile var on: Boolean = enabled

  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (stack.isEmpty) 0L else stack.peek()
      stack.push(id)
      sc.setLocalProperty(Tracer.Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.Property,
          if (stack.isEmpty) null else stack.peek().toString)
        spans.synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  /** Wait for every listener event, then stop listening. */
  def finish(): Unit = counters.foreach { c =>
    GraftbenchBus.drain(sc)
    sc.removeSparkListener(c)
  }
}

object Tracer {
  val Property = "graftbench.span"
}

/** CPU seconds of the whole JVM, all threads. Time the hypervisor gives
  * to other guests (steal) does not count, unlike wall time. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}
