package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.{DataWritingCommand, DataWritingCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed span: one call from the benchmark into one layer. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    thread: String, startNs: Long, endNs: Long, ok: Boolean)

/** Spark work counted by the listener, in total or for one span. */
final class Work {
  val jobs, stages, tasks, runMs, cpuNs, shuffleBytes, scanBytes, recordsRead, recordsWritten =
    new LongAdder
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble, "exec_run_s" -> runMs.sum / 1e3,
    "exec_cpu_s" -> cpuNs.sum / 1e9, "shuffle_bytes" -> shuffleBytes.sum.toDouble,
    "scan_bytes" -> scanBytes.sum.toDouble, "records_read" -> recordsRead.sum.toDouble,
    "records_written" -> recordsWritten.sum.toDouble)
}

/** One finished SQL execution as the QueryExecutionListener saw it. Planning
  * is the sum of the tracker's phases (analysis, optimization, planning);
  * `writes` lists the output path of each file write it made. */
final case class QueryEvent(startMs: Long, planMs: Long, execNs: Long, ok: Boolean,
    writes: Seq[String])

/** Per-layer tracing from outside the program.
  *
  * `span` wraps a call into one module's public function. While it runs, the
  * span id rides the thread's Spark job property [[Tracer.SpanKey]]; Spark
  * copies local properties into threads started under the span (a stream's
  * micro-batch thread), so every job the call causes is attributed to it.
  * The SparkListener and QueryExecutionListener are registered only while
  * tracing is on, so an untraced run carries none of their cost.
  *
  * Always on, because end-to-end metrics need them: the GC listener that
  * yields the peak heap after a collection.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var enabled = false
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  val total = new Work
  val bySpan = new ConcurrentHashMap[Long, Work]()
  val queries = new ConcurrentLinkedQueue[QueryEvent]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  // Window bookkeeping: spans and totals count from `since`; `tracedNs`
  // sums the time tracing was on inside the window.
  @volatile private var since = Long.MinValue
  private var onSince = 0L
  private var tracedNs = 0L

  /** Start the timed window: totals restart, earlier spans drop out. */
  def markWindow(): Unit = synchronized {
    since = System.nanoTime(); onSince = since; tracedNs = 0L
    Seq(total.jobs, total.stages, total.tasks, total.runMs, total.cpuNs, total.shuffleBytes,
      total.scanBytes, total.recordsRead, total.recordsWritten).foreach(_.reset())
  }

  /** Seconds of the window during which tracing was on, up to now. */
  def tracedSeconds: Double = synchronized {
    (tracedNs + (if (enabled) System.nanoTime() - onSince else 0L)) / 1e9
  }

  private def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      total.jobs.increment(); work(span).jobs.increment()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      total.stages.increment()
      work(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Seq(total, work(stageSpan.getOrDefault(e.stageId, 0L))).foreach { w =>
        w.tasks.increment(); w.runMs.add(m.executorRunTime); w.cpuNs.add(m.executorCpuTime)
        w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        w.scanBytes.add(m.inputMetrics.bytesRead)
        w.recordsRead.add(m.inputMetrics.recordsRead)
        w.recordsWritten.add(m.outputMetrics.recordsWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ns, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L, ok = false)
  }

  private def record(qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.values
    val start = if (phases.isEmpty) System.currentTimeMillis() - ns / 1000000
      else phases.map(_.startTimeMs).min
    // A write is a command: its node sits in the logical plan, or behind
    // CommandResultExec or an adaptive plan, off the plain child tree.
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case c: CommandResultExec => unwrap(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    val writes = scala.util.Try((qe.logical.collect { case c: DataWritingCommand => c } ++
        unwrap(qe.executedPlan).collect { case d: DataWritingCommandExec => d.cmd })
      .collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath }
      .distinct).getOrElse(Nil)
    queries.add(QueryEvent(start, phases.map(_.durationMs).sum, ns, ok, writes))
  }

  /** Turn the Spark listeners on or off (closed loops alternate, so one run
    * measures its own tracing overhead). */
  def set(on: Boolean): Unit = synchronized {
    if (on && !enabled) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      onSince = System.nanoTime()
    } else if (!on && enabled) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      tracedNs += System.nanoTime() - math.max(onSince, since)
    }
    enabled = on
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.SpanKey)
      val parents = stack.get
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      var ok = false
      try { val a = body; ok = true; a }
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          Thread.currentThread.getName, t0, System.nanoTime(), ok))
        stack.set(parents)
        sc.setLocalProperty(Tracer.SpanKey, outer)
      }
    }

  /** Record a span the benchmark did not wrap itself but reconstructed
    * from what Spark reported (a micro-batch and its phases). */
  def addSpan(layer: String, name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.getAndIncrement()
    spans.add(Span(id, parent, layer, name, "stream", startNs, endNs, ok = true))
    id
  }

  /** Closed spans of one layer (optionally one name) that started inside
    * the window, in start order. */
  def of(layer: String, name: String = null): Seq[Span] =
    spans.asScala.toSeq.filter(s => s.startNs >= since && s.layer == layer &&
      (name == null || s.name == name)).sortBy(_.startNs)

  def jobsOf(ss: Seq[Span]): Long =
    ss.map(s => Option(bySpan.get(s.id)).map(_.jobs.sum).getOrElse(0L)).sum

  def cpuNsOf(ss: Seq[Span]): Long =
    ss.map(s => Option(bySpan.get(s.id)).map(_.cpuNs.sum).getOrElse(0L)).sum

  def recordsReadOf(ss: Seq[Span]): Long =
    ss.map(s => Option(bySpan.get(s.id)).map(_.recordsRead.sum).getOrElse(0L)).sum

  def recordsWrittenOf(ss: Seq[Span]): Long =
    ss.map(s => Option(bySpan.get(s.id)).map(_.recordsWritten.sum).getOrElse(0L)).sum

  /** The listener bus is asynchronous: wait until the counters stop moving
    * before reading them. */
  def settle(): Unit = {
    var prev = -1L
    var tries = 0
    while (tries < 40 && total.tasks.sum + total.jobs.sum != prev) {
      prev = total.tasks.sum + total.jobs.sum
      Thread.sleep(50); tries += 1
    }
  }

  /** Spans as JSON lines, each with the Spark work attributed to it. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val rows = spans.asScala.toSeq.filter(_.startNs >= since).sortBy(_.startNs).map { s =>
      Json.obj(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ok" -> s.ok,
        "spark" -> Option(bySpan.get(s.id)).map(_.toMap).getOrElse(Map.empty)))
    }
    java.nio.file.Files.write(path, rows.asJava)
  }
}

object Trace {
  /** Traced minus untraced pass time, as a share of untraced, from passes
    * tagged traced or not; absent unless both kinds ran (the launcher then
    * compares against an untraced run in the records). */
  def overheadShare(passes: Seq[(Boolean, Double)]): Map[String, Double] = {
    val (on, off) = passes.partition(_._1)
    if (on.isEmpty || off.isEmpty) Map.empty
    else {
      val base = Stats.median(off.map(_._2))
      Map("trace.overhead_share" -> Stats.ratio(Stats.median(on.map(_._2)) - base, base))
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Heap occupancy right after each collection, and collection time, from the
  * JVM's own GC notifications. */
final class HeapWatch {
  val afterGc = new ConcurrentLinkedQueue[(Long, Double)]()

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      afterGc.add(System.currentTimeMillis() -> used / 1048576.0)
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak after-GC occupancy in [fromMs, toMs]: the 90th percentile of the
    * readings, so one collection that lands on a transient spike does not
    * decide it. A window without a collection is closed by one, so the
    * reading is never empty. */
  def peakMb(fromMs: Long, toMs: Long): Double = {
    val inWindow = afterGc.asScala.toSeq.collect { case (t, mb) if t >= fromMs && t <= toMs => mb }
    if (inWindow.nonEmpty) Stats.quantile(inWindow, 0.9)
    else {
      System.gc()
      val deadline = System.currentTimeMillis() + 2000
      while (!afterGc.asScala.exists(_._1 >= toMs) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      afterGc.asScala.collect { case (t, mb) if t >= toMs => mb }.headOption.getOrElse(0.0)
    }
  }
}
