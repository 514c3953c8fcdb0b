package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.relations.FileStore

/** One timed interval. Times are `System.nanoTime` readings; `parent` is 0
  * for an operation's root span. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      layer: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans and counters recorded from outside the program. Counters are
  * per operation: [[take]] returns and clears them. Recording is off
  * unless [[on]] is set, so listeners may stay registered while the
  * harness runs untraced operations and output checks; [[record]] is only
  * called while it is. */
final class Tracer {
  @volatile var on: Boolean = false
  @volatile var op: Int = -1
  @volatile var root: Long = 0L

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()

  // wall-clock milliseconds (Spark events, Runner results) → nanoTime base
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def fromEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def add(key: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(key, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def take(): Map[String, Double] = {
    val snap = counters.asScala.map { case (k, a) => k -> a.sum() }.toMap
    counters.clear()
    snap
  }

  def newId(): Long = ids.incrementAndGet()

  def record(name: String, layer: String, start: Long, end: Long,
             parent: Long = root, id: Long = newId()): Long = {
    spans.add(Span(id, parent, op, name, layer, start, end))
    id
  }

  /** Time `body` as a span under the operation root; untraced it just runs. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, layer, t0, System.nanoTime())
    }

  def opSpans(opId: Int): Seq[Span] = spans.asScala.filter(_.op == opId).toSeq
}

/** Spark jobs, stages and task metrics, attributed to the operation that
  * is running when the event is delivered (the harness drains the bus at
  * every operation boundary). Each job becomes a span under the root. */
final class SparkTrace(t: Tracer) extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (t.on) { jobStarts.put(e.jobId, t.fromEpochMs(e.time)); t.add("spark.jobs", 1) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      t.record(s"job ${e.jobId}", "spark", s, t.fromEpochMs(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    t.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    t.add("spark.tasks", 1)
    if (m != null) {
      t.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      t.add("spark.executor_run_s", m.executorRunTime / 1e3)
      t.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add("spark.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      t.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      t.add("spark.gc_s", m.jvmGCTime / 1e3)
      t.add("relations.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      t.add("relations.rows_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }
}

/** Catalyst phase times of every action, read from the query's planning
  * tracker once it has run. */
final class CatalystTrace(t: Tracer) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = {
    t.add("catalyst.actions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => t.add(s"catalyst.${p}_s", s.durationMs / 1e3))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** A [[FileStore]] that forwards every call unchanged to `inner` and
  * counts it: calls, seconds, and commit attempts (`createIfAbsent`),
  * of which those that lose to an existing file are conflicts. */
final class CountingFileStore(inner: FileStore, t: Tracer) extends FileStore {
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      t.add("relations.store_calls", 1)
      t.add("relations.store_s", (System.nanoTime() - t0) / 1e9)
    }
  }
  def read(path: String): String = timed(inner.read(path))
  def exists(path: String): Boolean = timed(inner.exists(path))
  def createIfAbsent(path: String, content: String): Boolean = {
    val won = timed(inner.createIfAbsent(path, content))
    t.add("relations.commits", 1)
    if (!won) t.add("relations.commit_conflicts", 1)
    won
  }
  def write(path: String, content: String): Unit = timed(inner.write(path, content))
  def list(dir: String): Seq[String] = timed(inner.list(dir))
  def delete(path: String): Unit = timed(inner.delete(path))
  def moveFile(src: String, dst: String): Unit = timed(inner.moveFile(src, dst))
  def sizeOf(path: String): Long = timed(inner.sizeOf(path))
}
