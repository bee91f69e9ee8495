package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters summed over every job, stage and task the session
  * runs. Installed only in a traced run; spans snapshot it at their
  * boundaries, so a span's counters are the work launched inside it.
  */
final class Counters extends SparkListener {
  val jobs, stages, tasks, cpuNs, inputBytes, shuffleWriteBytes, shuffleReadBytes,
      spillBytes, resultBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.sum().toDouble,
    "stages" -> stages.sum().toDouble,
    "tasks" -> tasks.sum().toDouble,
    "cpu_s" -> cpuNs.sum() / 1e9,
    "input_mb" -> inputBytes.sum() / 1e6,
    "shuffle_mb" -> (shuffleWriteBytes.sum() / 1e6),
    "shuffle_read_mb" -> shuffleReadBytes.sum() / 1e6,
    "spill_mb" -> spillBytes.sum() / 1e6,
    "result_mb" -> resultBytes.sum() / 1e6
  )
}

/** JVM-wide cumulative costs: JIT compile time and GC time. */
object Jvm {
  def jitS: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** In-memory span recorder. With tracing off, [[span]] only runs its body,
  * so the end-to-end run pays nothing but a flag test. With tracing on,
  * every span drains the listener bus at both ends (so the tasks of the
  * span's jobs are counted in it) and records its name, start, end,
  * parent and the counter deltas; spans go to JSON Lines at the end.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private final case class Open(id: Int, parent: Int, name: String, t0: Long, c0: Map[String, Double])

  private var sc: SparkContext = _
  private var counters: Counters = _
  private val stack = ArrayBuffer.empty[Open]
  private val done = ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  def attach(context: SparkContext): Unit =
    if (enabled) {
      sc = context
      counters = new Counters
      sc.addSparkListener(counters)
    }

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val open = begin(name)
      try body
      finally end(open, attrs)
    }

  private def begin(name: String): Open = {
    drain()
    val o = Open(nextId, stack.lastOption.map(_.id).getOrElse(-1), name, System.nanoTime(), sample())
    nextId += 1
    stack += o
    o
  }

  private def end(o: Open, attrs: Seq[(String, Any)]): Unit = {
    drain()
    val t1 = System.nanoTime()
    val c1 = sample()
    stack.remove(stack.length - 1)
    done += Map(
      "run" -> runId, "id" -> o.id, "parent" -> o.parent, "name" -> o.name,
      "start_s" -> o.t0 / 1e9, "end_s" -> t1 / 1e9,
      "counters" -> c1.map { case (k, v) => k -> (v - o.c0(k)) },
      "attrs" -> attrs.toMap)
  }

  private def sample(): Map[String, Double] =
    counters.snapshot() ++ Map("jit_s" -> Jvm.jitS, "gc_s" -> Jvm.gcS)

  /** Wait until every posted listener event is delivered. The bus is
    * private to Spark in Scala but public in bytecode.
    */
  private def drain(): Unit =
    if (sc != null) {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    }

  def spans: Seq[Map[String, Any]] = done.toSeq
}
