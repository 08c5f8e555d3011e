package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the driver's result files (maps keep their
  * insertion order; doubles that are not finite become null). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => apply(n.doubleValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => str(t.toInstant.toString)
    case d: java.sql.Date => str(d.toString)
    case o => str(o.toString)
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, apply(v))
  }
}

/** One timed call into an engine layer, recorded from the benchmark's
  * own code. `parent` is 0 for a root span. */
final class Span(val id: Int, val parent: Int, val layer: String,
    val name: String, val startNs: Long) {
  var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** In-memory span recorder; a no-op while tracing is off, so an
  * untraced pass pays one branch per call site. `enabled` is fixed for
  * the run; a traced run switches `on` per pass (see Ctx.passes). */
final class Tracer(val enabled: Boolean) {
  var on: Boolean = enabled
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size + 1, stack.headOption.fold(0)(_.id),
        layer, name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Attach counts to the latest span of `layer`; counts are read after
    * the span closes, outside its timing. */
  def annotate(layer: String, counts: scala.collection.Map[String, Double]): Unit =
    if (on) spans.reverseIterator.find(_.layer == layer).foreach(_.attrs ++= counts)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs)
  }
}

/** Executor-side totals published by Spark's listener bus. */
final case class ExecTotals(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, inputRecords: Long, scanRunMs: Long) {
  def -(o: ExecTotals): ExecTotals = ExecTotals(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    scanRunMs - o.scanRunMs)
}

final class ExecListener extends SparkListener {
  private var t = ExecTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  // task [launch, finish] in epoch ms, for busy/idle accounting
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    if (m == null) t = t.copy(tasks = t.tasks + 1)
    else {
      val in = m.inputMetrics.bytesRead
      t = ExecTotals(t.jobs, t.stages, t.tasks + 1,
        t.runMs + m.executorRunTime, t.cpuNs + m.executorCpuTime,
        t.gcMs + m.jvmGCTime,
        t.shuffleBytes + m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        t.inputBytes + in, t.inputRecords + m.inputMetrics.recordsRead,
        t.scanRunMs + (if (in > 0) m.executorRunTime else 0L))
    }
  }

  def totals: ExecTotals = synchronized(t)

  /** Milliseconds of [from, to] during which no task was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (to - from) - busy
  }
}

/** Catalyst phase time summed over every QueryExecution the session
  * completes (QueryPlanningTracker phases). */
final class PhaseListener extends QueryExecutionListener {
  val analysisMs, optimizationMs, planningMs = new AtomicLong()
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
    val p = qe.tracker.phases
    p.get("analysis").foreach(x => analysisMs.addAndGet(x.durationMs))
    p.get("optimization").foreach(x => optimizationMs.addAndGet(x.durationMs))
    p.get("planning").foreach(x => planningMs.addAndGet(x.durationMs))
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def snapshot: (Long, Long, Long) =
    (analysisMs.get, optimizationMs.get, planningMs.get)
}

/** Codegen units compiled and Janino compile time, from the counters
  * Spark's code generator already keeps (JVM-global). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def snapshot: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** Diagnostics stamped on every run; never a gate. */
object Host {
  /** Minor page faults of this process so far (/proc/self/stat field 10). */
  def minorFaults(): Long =
    try {
      val f = Files.readString(Paths.get("/proc/self/stat"))
      f.substring(f.lastIndexOf(')') + 2).split(' ')(7).toLong
    } catch { case _: Exception => 0L }

  /** Fresh-page fault probe: touch every page of a freshly mapped
    * off-heap block (the method of graft.Bench's host probe), scaled
    * to milliseconds per GiB. */
  def faultProbeMsPerGiB(bytes: Long = 256L << 20): Double = {
    import org.apache.spark.unsafe.Platform
    val t0 = System.nanoTime()
    val addr = Platform.allocateMemory(bytes)
    try {
      var off = 0L
      while (off < bytes) { Platform.putByte(null, addr + off, 1); off += 4096 }
    } finally Platform.freeMemory(addr)
    (System.nanoTime() - t0) / 1e6 * (1L << 30).toDouble / bytes
  }

  private def meminfoKb(key: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  def stamp(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_mb" -> meminfoKb("MemTotal") / 1024,
    "mem_available_mb" -> meminfoKb("MemAvailable") / 1024,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
    "fault_probe_ms_per_gib" -> faultProbeMsPerGiB(),
    "java" -> sys.props.getOrElse("java.version", "?"))
}
