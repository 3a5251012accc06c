package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is recorded around one call into a
  * layer of the engine: its name (`<layer>.<what>`), start and end
  * (nanoTime), the span that was open on the same thread when it started
  * (its parent), and the id of the workload operation it belongs to.
  * Spans stay in memory until the run ends. With tracing off, [[span]]
  * runs its body and records nothing. */
object Trace {
  final case class Span(name: String, id: Long, parent: Long, op: Long,
      start: Long, end: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = (end - start) / 1e6
  }

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(name, id, stack.headOption.getOrElse(0L), currentOp.get(), t0,
          System.nanoTime()))
        open.set(stack)
      }
    }

  /** Tag the spans recorded by `body` on this thread with operation `op`. */
  def withOp[A](op: Long)(body: => A): A = {
    val prev = currentOp.get()
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq

  def reset(): Unit = { spans.clear(); counters.clear() }

  /** Each span with its self time in ms: its duration minus the time its
    * direct children cover (children of one span run on its thread, one
    * after the other, so their durations do not overlap). */
  def selfTimes(ss: Seq[Span]): Seq[(Span, Double)] = {
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.map(s => s -> (s.ms - childMs.getOrElse(s.id, 0.0)))
  }

  def selfTimeByLayer(ss: Seq[Span]): Map[String, Double] =
    selfTimes(ss).groupMapReduce(_._1.layer)(_._2)(_ + _)
}

/** The benchmark's own view of Spark: job, task and byte counts plus
  * executor busy time, summed over every task that ends. */
final class SparkCounters extends SparkListener {
  val jobs, tasks, runMs, shuffleBytes, inputBytes, spillBytes, gcMs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.add(m.inputMetrics.bytesRead)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.add(m.jvmGCTime)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.sum, "tasks" -> tasks.sum, "run_ms" -> runMs.sum,
    "shuffle_bytes" -> shuffleBytes.sum, "input_bytes" -> inputBytes.sum,
    "spill_bytes" -> spillBytes.sum, "gc_ms" -> gcMs.sum)
}
