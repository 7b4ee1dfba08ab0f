package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: a call into one layer, made by the benchmark.
  * `parent` is the enclosing span (-1 at the top); spans of one operation
  * share `op`. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages and per-task totals. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, maxTaskMs = 0L
  var bytesRead, recordsRead = 0L
  var shuffleRead, shuffleWrite, spill = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Spans kept in memory, plus a listener that charges each Spark job to
  * the span that was open on the calling thread when the job started.
  * Disabled, `span` only runs its body. */
final class Trace(sc: SparkContext) {
  private val SpanKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var currentOp = -1
  @volatile var enabled = false

  // listener state: filled on the listener bus thread, read after drain()
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, Work]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, sp))
      workOf(sp).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      workOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrElse(e.stageId, -1))
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
        w.bytesRead += m.inputMetrics.bytesRead
        w.recordsRead += m.inputMetrics.recordsRead
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }
  def disable(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener); enabled = false }

  def beginOp(op: Int): Unit = currentOp = op

  /** Time `body` as a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), currentOp,
        System.nanoTime(), 0L)
      spans += s
      val prevProp = sc.getLocalProperty(SpanKey)
      stack = s.id :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  def all: Seq[Span] = spans.toSeq

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Spark work of a span and every span below it. */
  def workUnder(id: Int): Work = synchronized {
    val total = new Work
    (descendants(id) + id).foreach(i => work.get(i).foreach(total.add))
    total
  }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** One JSON object per span, with self time and attributed Spark work. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val w = workUnder(s.id)
      sb ++= f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        f""""jobs":${w.jobs},"tasks":${w.tasks},"task_run_ms":${w.runMs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Process-wide JVM counters: allocation across all threads, GC time
  * and memory. */
object JvmCounters {
  import scala.jdk.CollectionConverters._

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Runs a full, stop-the-world collection and returns the memory still
    * in use afterwards, heap plus non-heap (metaspace, code cache), in
    * bytes: the program's live data at that moment. */
  def liveBytesAfterFullGc(): Long = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed
  }

  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
