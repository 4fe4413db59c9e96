package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is -1 for a root span; every span of one op
  * carries that op's id. Times are System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder for the traced run. Spans wrap the benchmark's
  * own calls into the program's layers; Spark job spans are added from the
  * listener afterwards and parented to the innermost benchmark span that
  * contains them. Nothing is written until the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Adds Spark job spans (nanoTime-based) under the innermost enclosing
    * benchmark span of the same op. */
  def addJobs(jobs: Seq[(Int, Long, Long)]): Unit = {
    val own = spans.toVector
    jobs.foreach { case (jobId, s, e) =>
      val enclosing = own.filter(b => b.start <= s && s <= b.end)
      val parent = if (enclosing.isEmpty) -1 else enclosing.minBy(b => b.end - b.start).id
      val op = if (enclosing.isEmpty) this.op else enclosing.head.op
      spans += Span(nextId, parent, op, s"spark.job.$jobId", s, e)
      nextId += 1
    }
  }

  /** Duration of `s` minus the part of it covered by its child spans. */
  def selfMs(s: Span): Double = Tracer.uncoveredMs(s.start, s.end,
    spans.iterator.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)
}

object Tracer {
  /** Milliseconds of [start, end] not covered by the union of `parts`. */
  def uncoveredMs(start: Long, end: Long, parts: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = start
    parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start - covered) / 1e6
  }
}

/** Engine counters for one op, read from the benchmark's own SparkListener.
  * Spark posts listener events asynchronously; [[Drain]] flushes the bus
  * before a window is read. */
final class SparkCounters extends SparkListener {
  // epoch millis -> nanoTime, for placing job events on the span clock
  private val clockSkewNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(epochMs: Long): Long = epochMs * 1000000L + clockSkewNs

  final class Window {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
    val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
    val taskMsByStage = scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
    /** Worst stage's slowest task over its median task. */
    def taskSkew: Double = {
      val ratios = taskMsByStage.values.filter(_.size >= 2).map { ts =>
        val med = Harness.median(ts.map(_.toDouble))
        ts.max / math.max(med, 1.0)
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  @volatile private var cur = new Window
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]

  /** Starts a fresh counting window and returns the previous one. */
  def reset(): Window = synchronized { val w = cur; cur = new Window; w }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = toNano(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((e.jobId, s, toNano(e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    cur.tasks += 1
    if (m != null) {
      cur.taskMs += m.executorRunTime
      cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.recordsRead += m.inputMetrics.recordsRead
      cur.taskMsByStage.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }
}

/** JVM-wide GC time and heap occupancy after the last collection. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
}
