package graft.perfbench

import graft.metrics.{CommitEvent, MetricCollector, MetricCollectors, ScanEvent}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded interval. `parent` indexes into the same op's span list
  * (-1 for the op's root span); times are System.nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: Int)

/** One timed call of the closed loop: its wall, its answer digest (checked
  * outside the JVM), and — in a traced run — its span tree plus the
  * engine events that fired while it ran. `t0Ms`/`t1Ms` are wall-clock
  * millis, the clock SparkListener events are stamped with. */
final class Op(val kind: String, val name: String, val phase: String, val traced: Boolean) {
  var ms: Double = 0.0
  var t0Ms: Long = 0L
  var t1Ms: Long = 0L
  var error: String = null
  var digest: Seq[Any] = Seq.empty
  var info: Map[String, Any] = Map.empty
  val spans = ArrayBuffer.empty[Span]
  val scans = ArrayBuffer.empty[ScanEvent]
  val commits = ArrayBuffer.empty[CommitEvent]

  def toJson: Map[String, Any] = Map(
    "kind" -> kind, "name" -> name, "phase" -> phase, "traced" -> traced,
    "ms" -> ms, "t0_ms" -> t0Ms, "t1_ms" -> t1Ms,
    "error" -> Option(error), "digest" -> digest, "info" -> info,
    "spans" -> spans.map(s => Map("name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent)),
    "scans" -> scans.map(e => Map("table" -> e.tableLocation, "total_files" -> e.totalFiles,
      "matched_files" -> e.matchedFiles, "matched_records" -> e.matchedRecords,
      "plan_ms" -> e.planMs)),
    "commits" -> commits.map(e => Map("operation" -> e.operation,
      "attempts" -> e.attempts, "elapsed_ms" -> e.metrics.elapsedMs,
      "added_files" -> e.metrics.addedFiles, "removed_files" -> e.metrics.removedFiles,
      "added_records" -> e.metrics.addedRecords, "removed_records" -> e.metrics.removedRecords)))
}

/** Runs the closed loop's calls and, when tracing, records spans around
  * them from the outside: nothing in the engine is instrumented. Engine
  * events (ScanEvent, CommitEvent) arrive through a MetricCollector that
  * is registered only in a traced run; an event fired on the client thread
  * becomes a child span of the innermost open span, ending at the moment
  * it was emitted and lasting the duration the event reports. */
final class Tracer(traceRun: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  private val client = Thread.currentThread()
  private var cur: Op = null
  private val stack = ArrayBuffer.empty[Int]
  /** Engine events raised off the client thread (streaming commits). */
  val backgroundCommits = new ConcurrentLinkedQueue[CommitEvent]()

  private val collector = new MetricCollector {
    override def onScan(e: ScanEvent): Unit = onClient { op =>
      op.scans += e; synthetic("scan.plan", e.planMs)
    }
    override def onCommit(e: CommitEvent): Unit =
      if (Thread.currentThread() eq client) onClient { op =>
        op.commits += e; synthetic("format.commit", e.metrics.elapsedMs)
      } else backgroundCommits.add(e)
  }
  if (traceRun) MetricCollectors.register(collector)

  def close(): Unit = if (traceRun) MetricCollectors.unregister(collector)

  private def onClient(f: Op => Unit): Unit =
    if ((Thread.currentThread() eq client) && cur != null && cur.traced) f(cur)

  /** A child span for work the engine reports having done just now. It is
    * clamped into the open parent and after the parent's last child, so
    * siblings never overlap and self times always sum to the root wall. */
  private def synthetic(name: String, durMs: Long): Unit = if (stack.nonEmpty) {
    val now = System.nanoTime()
    val parent = stack.last
    val floor = math.max(cur.spans(parent).start,
      cur.spans.iterator.filter(_.parent == parent).map(_.end).maxOption.getOrElse(Long.MinValue))
    cur.spans += Span(name, math.max(now - durMs * 1000000L, floor), now, parent)
  }

  /** A span around `body` inside the current op (a no-op when untraced). */
  def span[A](name: String)(body: => A): A =
    if (cur == null || !cur.traced) body
    else {
      val idx = cur.spans.length
      cur.spans += Span(name, System.nanoTime(), 0L, stack.lastOption.getOrElse(-1))
      stack += idx
      try body
      finally {
        stack.remove(stack.length - 1)
        val s = cur.spans(idx)
        cur.spans(idx) = s.copy(end = System.nanoTime())
      }
    }

  /** One timed call, traced only when `traced` (and this is a traced
    * run). A failure is recorded on the op and counted as failed outside;
    * its elapsed time is never a sample. */
  def op[A](kind: String, name: String, phase: String, traced: Boolean = false)(
      body: => A): (Op, Option[A]) = {
    val o = new Op(kind, name, phase, traceRun && traced)
    ops += o
    cur = o
    o.t0Ms = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res =
      try Some(span(kind)(body))
      catch { case scala.util.control.NonFatal(e) =>
        o.error = (e.getClass.getSimpleName + ": " + e.getMessage).take(500); None }
    // a traced op's wall is its root span, so its self times sum to it
    o.ms = o.spans.headOption.fold((System.nanoTime() - n0) / 1e6)(s => (s.end - s.start) / 1e6)
    o.t1Ms = System.currentTimeMillis()
    cur = null
    stack.clear()
    (o, res)
  }
}

/** Task/job/stage timestamps for the work/sched split of each op's
  * window, as the engine's own events stamp them. */
final class SparkTimeline extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j.time)
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    s.stageInfo.submissionTime.foreach(stages.add(_))
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null) tasks.add((t.taskInfo.launchTime, t.taskInfo.finishTime))

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.sorted,
    "stages" -> stages.asScala.toSeq.sorted,
    "tasks" -> tasks.asScala.toSeq.sortBy(_._1).map { case (a, b) => Seq(a, b) })
}

/** GC time and heap high-water mark over the measured phase. */
final class JvmProbe {
  import java.lang.management.ManagementFactory
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def start(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def toJson: Map[String, Any] = Map(
    "gc_ms" -> (gcMs - gc0),
    "heap_used_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}
