package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (id, name, parent, tick, start, end);
  * nesting follows the call stack of the benchmark's own code, so a span
  * wraps exactly one call into a program layer. Spans stay in memory until
  * the run writes them out.
  */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Option[Int],
      tick: Option[Int], startNs: Long, endNs: Long) {
    def sec: Double = (endNs - startNs) / 1e9
    def fields: Map[String, Any] = Map("id" -> id, "name" -> name,
      "parent" -> parent, "tick" -> tick, "start_ns" -> startNs,
      "end_ns" -> endNs)
  }

  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String, tick: Option[Int] = None)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      done += Span(id, name, parent, tick, t0, t1)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Total wall seconds of every span with this name. */
  def total(name: String): Double = done.filter(_.name == name).map(_.sec).sum

  def byName(name: String): Seq[Span] = done.filter(_.name == name).toSeq
}

/** Engine-wide counters from a listener the benchmark registers. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val executorRunMs = new AtomicLong
  val gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      executorRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Cumulative counters, after the bus has delivered every queued event. */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "shuffle_write_bytes" -> shuffleWriteBytes.get,
      "shuffle_read_bytes" -> shuffleReadBytes.get,
      "spill_bytes" -> spillBytes.get, "executor_run_ms" -> executorRunMs.get,
      "gc_ms" -> gcMs.get)
  }
}

object SparkCounters {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}
