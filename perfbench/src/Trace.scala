package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and per-span Spark counters, recorded from outside graft.
  *
  * A span is (id, op, name, parent, start, end). Every span of one op
  * shares the op id. While a span is open, the client thread carries
  * its id in the local property [[Trace.Prop]]; Spark copies local
  * properties into every job the thread submits (SQL broadcast and
  * subquery threads inherit them too), so the listener can charge each
  * job, stage and task to the innermost open span.
  *
  * Disabled (the untraced runs that give the end-to-end metrics),
  * `span` is a plain call: no property, no listener, no records. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  final case class Span(id: Int, op: Int, name: String, parent: Int,
      start: Long, var end: Long = -1L) {
    def ms: Double = (end - start) / 1e6
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1
  private var opId = 0

  /** Counters charged to one span by the listener. */
  final class Counts {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var inputBytes = 0L; var outputBytes = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
      shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
      outputBytes += o.outputBytes
    }
  }
  private val counts = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val s = spanOf(e.properties)
        counts.getOrElseUpdate(s, new Counts).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val s = spanOf(e.properties)
        if (s != 0 || !stageSpan.contains(e.stageInfo.stageId))
          stageSpan(e.stageInfo.stageId) = s
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val c = counts.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0),
            new Counts)
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  def beginOp(): Int = { opId += 1; opId }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(nextId, opId, name, stack.headOption.fold(0)(_.id),
        System.nanoTime())
      nextId += 1
      spans += s
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** forgets everything recorded so far (the warm-up's spans) */
  def reset(): Unit = if (enabled) {
    drain()
    synchronized { spans.clear(); counts.clear(); stageSpan.clear() }
    opId = 0
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** nearest span (itself included) whose name is in `names` */
  private def ancestorIn(id: Int, names: Set[String]): Option[Span] = {
    var cur = byId.get(id)
    while (cur.exists(s => !names(s.name))) cur = byId.get(cur.get.parent)
    cur
  }

  /** counters of every span under a span named in `names`, summed by
    * that name */
  def countsBy(names: Set[String]): Map[String, Counts] = synchronized {
    val out = mutable.Map.empty[String, Counts]
    counts.foreach { case (id, c) =>
      ancestorIn(id, names).foreach(s =>
        out.getOrElseUpdate(s.name, new Counts).add(c))
    }
    out.toMap
  }

  /** total duration of the spans called `name` */
  def totalMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.ms).sum

  /** a span's duration minus the part its children cover */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum
}

object Trace {
  val Prop = "perfbench.span"

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** linear interpolation between closest ranks (numpy's default) */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}
