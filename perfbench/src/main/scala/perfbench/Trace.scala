package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans recorded around the benchmark's own calls into each
  * layer. Every thread appends to its own buffer, so recording takes no
  * lock; the buffers are written out once, when the run ends. A span is
  * (id, parent, request id, name, start ns, end ns); parent 0 = root.
  * Disabled tracers record nothing and cost one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private final class Buf(val thread: Int) {
    val ids = ArrayBuffer.empty[Long]
    val parents = ArrayBuffer.empty[Long]
    val reqs = ArrayBuffer.empty[Long]
    val names = ArrayBuffer.empty[String]
    val starts = ArrayBuffer.empty[Long]
    val ends = ArrayBuffer.empty[Long]
    var stack: List[Long] = Nil
    var next = 0L
  }
  private val threads = new AtomicInteger(0)
  private val bufs = new ConcurrentLinkedQueue[Buf]()
  private val local = new ThreadLocal[Buf] {
    override def initialValue(): Buf = {
      val b = new Buf(threads.incrementAndGet())
      bufs.add(b)
      b
    }
  }

  /** Time `body` as span `name` of request `req`, nested under the
    * innermost open span of this thread. */
  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val b = local.get()
      b.next += 1
      val id = (b.thread.toLong << 40) | b.next
      val parent = b.stack.headOption.getOrElse(0L)
      b.stack = id :: b.stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        b.stack = b.stack.tail
        b.ids += id; b.parents += parent; b.reqs += req; b.names += name
        b.starts += t0; b.ends += t1
      }
    }

  def count: Int = { var n = 0; bufs.forEach(b => n += b.ids.length); n }

  /** One span per line: id parent req name start end (ns). */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try bufs.forEach { b =>
      var i = 0
      while (i < b.ids.length) {
        w.write(s"${b.ids(i)}\t${b.parents(i)}\t${b.reqs(i)}\t${b.names(i)}\t" +
          s"${b.starts(i)}\t${b.ends(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}

/** Spark-side counters from a SparkListener (jobs, stages, task
  * metrics) and a QueryExecutionListener (Catalyst phase times from
  * `qe.tracker`). Listener events arrive asynchronously on the listener
  * bus, so `snapshot()` drains the bus first; the difference of two
  * snapshots is what happened between them.
  */
final class SparkCounters(spark: SparkSession) {
  private val c = Array.fill(SparkCounters.keys.length)(new AtomicLong(0L))
  private def add(k: String, v: Long): Unit =
    c(SparkCounters.keys.indexOf(k)).addAndGet(v)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  private val phases = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
      }
    }
  }
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(phases)

  def snapshot(): Map[String, Long] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    SparkCounters.keys.zip(c.map(_.get)).toMap
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
  }
}

object SparkCounters {
  val keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_ns",
    "gc_ms", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
    "analysis_ms", "optimization_ms", "planning_ms")

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    keys.map(k => k -> (b(k) - a(k))).toMap
}
