package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over every task that ends while registered. The
  * peak is the largest `peakExecutionMemory` of any single task: the
  * executor memory a user has to provision.
  */
final class TaskCounters extends SparkListener {
  private val shuffleWrite, shuffleRead, spill, tasks, failed, cpuNs, gcMs,
    peak = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def resetPeak(): Unit = peak.set(0)
  def peakMb: Double = peak.get / 1e6

  /** Cumulative counters in the units the per-layer metrics use. */
  def snapshot(): Map[String, Double] = Map(
    "shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spill_mb" -> spill.get / 1e6,
    "tasks" -> tasks.get.toDouble,
    "tasks_failed" -> failed.get.toDouble,
    "task_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3)
}

/** One finished SQL execution, tagged with its command: the logical
  * plan's root node, e.g. `InsertIntoHadoopFsRelationCommand` (Parquet
  * insert), `CreateDataSourceTableAsSelectCommand` (`saveAsTable`) or
  * `SaveIntoDataSourceCommand` (JDBC).
  */
final case class SqlExec(command: String, seconds: Double, ok: Boolean)

final class SqlListener extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[SqlExec]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(SqlExec(qe.logical.nodeName, durationNs / 1e9, ok = true))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    done.add(SqlExec(qe.logical.nodeName, 0.0, ok = false))
}

/** A finished span. `cpuNs` is the process CPU time over the span, `jitNs`
  * the JIT compiler's part of it, `stealNs` the host's CPU steal over the
  * span summed over CPUs; `counters` holds task-counter deltas over the span and is
  * empty when tracing was off.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, cpuNs: Long, jitNs: Long, stealNs: Long, traced: Boolean, ok: Boolean,
    counters: Map[String, Double], attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object ProcessCpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used by every thread of this JVM so far. Unlike wall time it
    * does not grow while the hypervisor runs other machines' work.
    */
  def nanos: Long = os.getProcessCpuTime
}

object JitTime {
  private val bean = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Time the JIT compiler threads have spent compiling so far. It is
    * part of the process CPU time, and it shrinks from pass to pass while
    * the JIT catches up, at a pace that differs from run to run.
    */
  def nanos: Long = bean.getTotalCompilationTime * 1000000L
}

object HostSteal {
  /** USER_HZ, the unit of /proc/stat. */
  @volatile var ticksPerSecond = 100L

  /** CPU time the hypervisor has taken from this machine's CPUs so far
    * (the `steal` column of /proc/stat, summed over CPUs), 0 where
    * /proc/stat is not readable.
    */
  def nanos: Long =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+")(8).toLong * 1000000000L / ticksPerSecond
    } catch { case _: Exception => 0L }
}

/** In-memory span recorder. Every span is timed; while `traced` is on, a
  * span also drains the listener bus at both ends, records its task-counter
  * deltas, and adopts the SQL executions that finished inside it as
  * child spans named `sql`.
  */
final class Tracer(spark: SparkSession, counters: TaskCounters) {
  val spans = ArrayBuffer.empty[Span]
  private val sql = new SqlListener
  private var stack = List(0)
  private var nextId = 1
  private var _traced = false

  def traced: Boolean = _traced
  def traced_=(on: Boolean): Unit = if (on != _traced) {
    if (on) spark.listenerManager.register(sql)
    else spark.listenerManager.unregister(sql)
    _traced = on
  }

  /** Runs `body` in a span; a thrown exception is recorded (ok=false)
    * and rethrown.
    */
  def apply[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val on = _traced
    val c0 = if (on) { BusDrain(spark.sparkContext); counters.snapshot() } else null
    val t0 = System.nanoTime()
    val cpu0 = ProcessCpu.nanos
    val jit0 = JitTime.nanos
    val steal0 = HostSteal.nanos
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      val cpu = ProcessCpu.nanos - cpu0
      val jit = JitTime.nanos - jit0
      val steal = HostSteal.nanos - steal0
      stack = stack.tail
      val deltas = if (on) {
        BusDrain(spark.sparkContext)
        var e = sql.done.poll()
        while (e != null) {
          spans += Span(nextId, id, "sql", t1 - (e.seconds * 1e9).toLong, t1, 0L, 0L, 0L,
            traced = true, e.ok, Map.empty, Map("command" -> e.command))
          nextId += 1
          e = sql.done.poll()
        }
        val c1 = counters.snapshot()
        c1.map { case (k, v) => k -> (v - c0(k)) }
      } else Map.empty[String, Double]
      spans += Span(id, parent, name, t0, t1, cpu, jit, steal, on, ok, deltas, attrs)
    }
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
