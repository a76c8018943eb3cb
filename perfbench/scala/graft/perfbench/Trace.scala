package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer; times are `System.nanoTime`. */
final case class Span(id: Long, layer: String, name: String, parent: Long,
                      thread: Long, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs = 0L
  var shuffleRead, shuffleWrite, spill, peakMem = 0L
}

/** In-memory span recorder plus a Spark listener that attributes jobs,
  * stages and task metrics to the span that launched them (through a
  * thread-local Spark property). Every job submitted inside the measured
  * phase is counted, spanned or not (unspanned work goes to span 0).
  * Disabled, `span` is a plain call. Spans are kept only while `active`
  * (the measured phase), and written out once, at exit.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.Prop

  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var active = false
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]() // wall ms
  private val counters = new ConcurrentHashMap[Long, Counters]()
  @volatile private var wallStartMs, wallEndMs = 0L
  private var gcStartMs, gcEndMs = 0L
  /** wall and GC time of heap measurements inside the measured phase */
  private var skippedMs, skippedGcMs = 0L

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(0L)
  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)
  private def measured(wallMs: Long): Boolean =
    wallStartMs > 0 && wallMs >= wallStartMs && (wallEndMs == 0 || wallMs <= wallEndMs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (measured(e.time)) {
        val s = spanOf(e.properties)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        countersOf(s).synchronized(countersOf(s).jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobs.add((t.longValue, e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        countersOf(s).synchronized(countersOf(s).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { s =>
        val c = countersOf(s)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Start of the measured phase. */
  def begin(): Unit = {
    wallStartMs = System.currentTimeMillis(); gcStartMs = gcMs(); active = true
  }

  /** End of the measured phase; waits for the listener bus to drain. */
  def finish(): Unit = {
    active = false; wallEndMs = System.currentTimeMillis(); gcEndMs = gcMs()
    if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)
  }

  /** Heap in use after full collections, in MB. Taken inside the measured
    * phase, its wall and GC time are left out of the phase's. */
  def liveHeapMb(): Double = {
    val (w0, g0) = (System.currentTimeMillis(), gcMs())
    // the first collection lets Spark's ContextCleaner see the RDDs,
    // shuffles and broadcasts nothing references; once it has dropped their
    // blocks, the second frees them
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    if (active) {
      skippedMs += System.currentTimeMillis() - w0; skippedGcMs += gcMs() - g0
    }
    mb
  }

  /** Time `body` as a span of `layer`. `sparkWork = false` skips tagging
    * Spark jobs, for calls that launch none (store point reads). */
  def span[T](layer: String, name: String, sparkWork: Boolean = true)(
      body: => T): T =
    if (!enabled || !active) body
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      if (sparkWork) sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (sparkWork)
          sc.setLocalProperty(Prop, if (parent == 0) null else parent.toString)
        spans.add(Span(id, layer, name, parent,
          Thread.currentThread.getId, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Durations (ns) of the spans with this layer and name. */
  def nanos(layer: String, name: String): Array[Long] =
    all.filter(s => s.layer == layer && s.name == name).map(_.nanos).toArray

  /** Self time per layer, in seconds: each span's duration minus the time
    * its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val childNanos = spans.groupBy(_.parent).view
      .mapValues(_.map(_.nanos).sum).toMap
    spans.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => s.nanos - childNanos.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  /** The `spark.*` per-layer metrics over the measured phase. */
  def sparkMetrics: Seq[(String, Double, String)] = {
    val cs = counters.values.asScala.toSeq
    def sum(f: Counters => Long) = cs.map(f).sum.toDouble
    val lo = wallStartMs; val hi = wallEndMs
    // union of job intervals clipped to the measured window
    var covered = 0L; var reach = lo
    jobs.asScala.toSeq.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    Seq(
      ("spark.jobs", sum(_.jobs), "count"),
      ("spark.stages", sum(_.stages), "count"),
      ("spark.tasks", sum(_.tasks), "count"),
      ("spark.executor_run_s", sum(_.runMs) / 1e3, "s"),
      ("spark.executor_cpu_s", sum(_.cpuNs) / 1e9, "s"),
      ("spark.jvm_gc_s", (gcEndMs - gcStartMs - skippedGcMs) / 1e3, "s"),
      ("spark.shuffle_read_bytes", sum(_.shuffleRead), "bytes"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWrite), "bytes"),
      ("spark.spill_bytes", sum(_.spill), "bytes"),
      ("spark.peak_exec_mem_bytes",
        cs.map(_.peakMem).foldLeft(0L)(math.max).toDouble, "bytes"),
      ("spark.driver_only_s", math.max(0L, hi - lo - covered - skippedMs) / 1e3, "s"))
  }

  /** Write every span (with the Spark counters attributed to it) as JSON
    * lines; times in microseconds from the first span's start. */
  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val c = Option(counters.get(s.id))
      val cnt = c.map(c => s""","jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"executor_run_ms":${c.runMs},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill}""")
        .getOrElse("")
      w.write(s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""thread":${s.thread},"start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000}$cnt}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
