package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JSON string escaping for every name and message the benchmark emits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    String.valueOf(s).foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Order statistics over samples. */
object Stats {
  def sorted(xs: Iterable[Long]): Array[Long] = { val a = xs.toArray; java.util.Arrays.sort(a); a }
  def median(a: Array[Long]): Double =
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2).toDouble
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2.0
  def median(xs: Seq[Double]): Double = {
    val a = xs.sorted
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2)
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2.0
  }
  /** Nearest-rank percentile of a sorted array. */
  def pct(a: Array[Long], p: Double): Double =
    if (a.isEmpty) Double.NaN
    else a(math.min(a.length - 1, math.max(0, math.ceil(p / 100 * a.length).toInt - 1))).toDouble
  /** The highest percentile with at least ten samples beyond it, and its
    * label (e.g. "p66.7 of 30"). Below 21 samples that percentile would not
    * lie above the median, so the one with two samples beyond it is taken
    * (a single slow outlier does not set it); below 5 samples, the maximum. */
  def tail(a: Array[Long]): (Double, String) = {
    val beyond = if (a.length >= 21) 10 else if (a.length >= 5) 2 else 0
    val i = a.length - 1 - beyond
    if (a.isEmpty) (Double.NaN, "no samples")
    else if (beyond == 0) (a(i).toDouble, s"max of ${a.length}")
    else (a(i).toDouble, f"p${100.0 * (i + 1) / a.length}%.1f of ${a.length}")
  }
}

final case class Failure(op: String, cls: String, message: String)

/** Everything one run measures, checks and reports. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val smoke: Boolean, val work: Path,
                val data: Path, val tracer: Tracer) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val failures = mutable.ArrayBuffer.empty[Failure]
  var attempted = 0L
  var failed = 0L
  /** end-to-end metrics (tracing off) */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's own names for its end-to-end figures */
  val named = mutable.LinkedHashMap.empty[String, (Double, String, String)]
  /** per-layer metrics (tracing on) */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(op: String, e: Throwable): Unit = synchronized {
    failures += Failure(op, e.getClass.getName, String.valueOf(e.getMessage))
    failed += 1
  }
  /** A wrong answer: recorded like a failure, and `ops` operations are
    * counted failed (an op whose output is wrong is never a timing). */
  def wrong(op: String, msg: String, ops: Long = 1): Unit = synchronized {
    failures += Failure(op, "WrongResult", msg)
    failed += ops
  }

  /** Run `op`, counting it; a throw is recorded as a failure. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body) catch { case e: Throwable => fail(op, e); None }
  }

  /** Log a phase boundary (JVM uptime) on stderr. */
  def phase(n: String): Unit = System.err.println(f"[perfbench] $workload: $n at ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def name(n: String, v: Double, unit: String, note: String = ""): Unit =
    named(n) = (v, unit, note)

  /** Run the set-up `reps` times (each from scratch) and record the median
    * as `setup_s`; the state the last repetition leaves is the one used. */
  def setup(reps: Int)(body: Int => Unit): Unit = {
    val secs = (0 until reps).map { r =>
      val t0 = System.nanoTime(); body(r); (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = (Stats.median(secs), "s")
    phase(s"set-up done (${secs.map(x => f"$x%.2f").mkString(", ")} s)")
    name("setup_s", Stats.median(secs), "s", s"median of $reps set-ups")
  }

  /** Record `live_heap_mb`: the heap in use after full collections, taken
    * where the workload holds the state it works on (`where` says when). */
  def liveHeap(where: String): Unit = {
    val mb = tracer.liveHeapMb()
    e2e("live_heap_mb") = (mb, "MB")
    name("live_heap_mb", mb, "MB", s"heap in use after full GCs, $where")
  }

  /** Record the four latency/throughput end-to-end metrics of the
    * workload's unit operation. */
  def opMetrics(latNanos: Array[Long], workPerSec: Double,
                tail: Option[(Double, String)] = None): String = {
    val (t, label) = tail.getOrElse(Stats.tail(latNanos))
    e2e("op_p50_ms") = (Stats.median(latNanos) / 1e6, "ms")
    e2e("op_tail_ms") = (t / 1e6, "ms")
    e2e("work_per_s") = (workPerSec, "1/s")
    label
  }

  def workDir(name: String): Path = {
    val p = work.resolve(name)
    deleteTree(p)
    Files.createDirectories(p.getParent)
    p
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** `graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --report FILE [--smoke]`: one benchmark run. The
  * report (JSON) carries every metric, the failures, and, when tracing,
  * the span file's path; `perfbench/run.py` turns it into the result line.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "offline_pit" -> OfflinePit.run,
    "ingest" -> Ingest.run,
    "serve" -> Serve.run,
    "registry_cold" -> RegistryCold.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val workload = opts("workload")
    val body = workloads.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload'; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    // the session conf of graft.Bench, with scratch space kept in `work`
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, workload, opts("seed").toLong,
      opts("seconds").toDouble, smoke, work,
      Paths.get(opts("data")).toAbsolutePath, tracer)
    ctx.phase("session up")
    try body(ctx)
    catch { case e: Throwable => ctx.fail(s"$workload.run", e) }
    ctx.phase("checked")
    if (trace) {
      Layers.all.foreach { case (n, u) => ctx.layer.getOrElseUpdate(n, (0.0, u)) }
      tracer.sparkMetrics.foreach { case (n, v, u) => ctx.layer(n) = (v, u) }
      val self = tracer.selfSeconds
      Layers.selfNames.foreach { case (layer, metric) =>
        ctx.layer(metric) = (self.getOrElse(layer, 0.0), "s")
      }
      ctx.layer("trace.spans") = (tracer.all.size.toDouble, "count")
      ctx.e2e.get("op_p50_ms").foreach(v => ctx.layer("trace.op_p50_ms") = v)
    }
    val report = Paths.get(opts("report")).toAbsolutePath
    Files.createDirectories(report.getParent)
    val spansFile = report.resolveSibling(report.getFileName.toString
      .replaceAll("\\.json$", "") + ".spans.jsonl")
    if (trace) tracer.write(spansFile)
    Files.writeString(report, render(ctx, trace, spansFile))
    spark.stop()
  }

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")

  private def render(c: Ctx, trace: Boolean, spans: Path): String = {
    val named = c.named.map { case (k, (v, u, note)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"note\":${Json.str(note)}}"
    }.mkString("{", ",", "}")
    val fails = c.failures.map(f =>
      s"{\"op\":${Json.str(f.op)},\"class\":${Json.str(f.cls)},\"message\":${Json.str(f.message)}}")
      .mkString("[", ",", "]")
    val wrong = c.failures.exists(_.cls == "WrongResult")
    s"""{"workload":${Json.str(c.workload)},"seed":${c.seed},"trace":$trace,""" +
      s""""run_id":${Json.str(c.tracer.runId)},"cpus":${c.cpus},""" +
      s""""attempted":${c.attempted},"failed":${c.failed},"wrong":$wrong,""" +
      s""""e2e":${metricsJson(c.e2e)},"layer":${metricsJson(c.layer)},""" +
      s""""named":$named,"failures":$fails,""" +
      s""""spans":${if (trace) Json.str(spans.toString) else "null"}}""" + "\n"
  }
}
