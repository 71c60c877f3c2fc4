package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._

/** Process-wide CPU and GC clocks. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** The JIT compiler threads' scheduler statistics (Linux). They are found
    * once: run.py starts the JVM with a fixed set of compiler threads.
    */
  private lazy val compilerStats: Seq[Path] =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.filter { t =>
      Try(new String(Files.readAllBytes(new File(t, "comm").toPath)).trim)
        .toOption.exists(c => c.startsWith("C1 CompilerThre") || c.startsWith("C2 CompilerThre"))
    }.map(t => new File(t, "schedstat").toPath)

  /** CPU the compiler threads have run, in ns (first schedstat field). */
  def compilerCpuNs(): Long = compilerStats.map { p =>
    Try(new String(Files.readAllBytes(p)).trim.split(' ')(0).toLong).getOrElse(0L)
  }.sum

  /** Process CPU time less the CPU the JIT compiler threads ran: the CPU the
    * program's work costs. A fresh JVM's compiler threads take more CPU than
    * the program for its first minute, and how much varies with the host's
    * load, so it is warm-up, not program work.
    */
  def workCpuNs(): Long = os.getProcessCpuTime - compilerCpuNs()
  def gcMs(): Long = gcs.map(_.getCollectionTime.max(0L)).sum
}

/** One finished Spark task, as the listener saw it. */
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                         spill: Long, schedMs: Long)

/** Listener owned by the benchmark: per-task metrics, and the span each
  * stage and job was submitted under (read from the local property the
  * tracer sets). Nothing is added to the program under test.
  */
final class Recorder extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** span id of every job started (-1 outside any span). */
  val jobs = new ConcurrentLinkedQueue[Integer]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.SpanKey))).map(_.toInt).getOrElse(-1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sched = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        sched.max(0L)))
    }
  }

  // storage held by RDD blocks (cached and checkpointed), in event order
  private val rddBlocks = new java.util.HashMap[org.apache.spark.storage.BlockId, java.lang.Long]()
  private var storage = 0L
  private var storagePeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val now = if (b.storageLevel.isValid) b.memSize else 0L
      val old = Option(rddBlocks.put(b.blockId, now)).map(_.longValue).getOrElse(0L)
      storage += now - old
      storagePeak = math.max(storagePeak, storage)
    }
  }

  /** Drain the bus, reset the storage peak to the current level, return it. */
  def markStorage(sc: SparkContext): Long = {
    Internals.drainListeners(sc)
    synchronized { storagePeak = storage; storage }
  }

  /** Drain the bus and return the storage peak since the last mark. */
  def storagePeakBytes(sc: SparkContext): Long = {
    Internals.drainListeners(sc)
    synchronized(storagePeak)
  }

  def spanOfStage(stage: Int): Int = Option(stageSpan.get(stage)).map(_.intValue).getOrElse(-1)

  /** Drain the bus, then hand over and forget everything recorded so far. */
  def take(sc: SparkContext): (Seq[TaskRec], Seq[Int]) = {
    Internals.drainListeners(sc)
    val t = Iterator.continually(tasks.poll()).takeWhile(_ != null).toVector
    val j = Iterator.continually(jobs.poll()).takeWhile(_ != null).map(_.intValue).toVector
    (t, j)
  }
}

object Recorder { val SpanKey = "perfbench.span" }

/** A span: a layer call made by the benchmark, with its output materialized
  * before it ends. `job` is the benchmark job it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, job: Int,
                      startNs: Long, endNs: Long, cpuNs: Long, gcMs: Long,
                      storagePeak: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans stay in memory and are written when the run ends;
  * counts are recorded per job under `<layer>.<metric>` names.
  */
final class Tracer(sc: SparkContext, rec: Recorder) {
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  val counts = scala.collection.mutable.Map.empty[(Int, String), Double]
  private var nextId = 0
  private var current = -1
  var job = 0

  def count(name: String, v: Double): Unit = counts((job, name)) = v
  def add(name: String, v: Double): Unit =
    counts((job, name)) = counts.getOrElse((job, name), 0.0) + v

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = current
    val prevProp = sc.getLocalProperty(Recorder.SpanKey)
    current = id
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    sc.setJobDescription(name)
    val base = rec.markStorage(sc)
    val cpu0 = Proc.workCpuNs(); val gc0 = Proc.gcMs(); val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, job, t0, t1, Proc.workCpuNs() - cpu0,
        Proc.gcMs() - gc0, rec.storagePeakBytes(sc) - base)
      current = parent
      sc.setLocalProperty(Recorder.SpanKey, prevProp)
      sc.setJobDescription(null)
    }
  }

  def toJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "cpu_s" -> s.cpuNs / 1e9,
      "gc_s" -> s.gcMs / 1e3, "storage_peak_mb" -> s.storagePeak / 1e6)
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer: flat objects of numbers, strings and booleans. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case RawJson(j) => j
    case o => o.toString // Boolean, Int, Long
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ": " + value(x) }.mkString("{", ", ", "}")

  final case class RawJson(json: String)
}
