package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{FeatureStore, FeatureView}
import graft.ops.Materialize
import graft.sources.KvStore

/** The read path: batch-of-3 `KvStore.getBatch` requests, open loop, at a
  * fixed ladder of rates, over two key streams (a Zipf hot set and a
  * uniform stream over the whole store with ~9 % missing keys), then
  * `FeatureStore.getOnlineFeatures` at a low fixed rate. */
object Serve {
  val Features = Seq("f_double", "f_str", "f_long")
  val HotKeys = 2000L
  val SloNanos = 1000000L // p99 limit for serve_max_rps: 1 ms

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val (keys, rows) = if (c.smoke) (2000L, 4000L) else (100000L, 200000L)
    val rates = if (c.smoke) Seq(500.0, 1000.0) else Seq(2000.0, 10000.0, 40000.0)
    val dfRate = 2.0
    val history = spark.range(rows).select((col("id") % keys).as("key"),
      Gen.ntz(lit(Gen.Epoch) + floor(Gen.u(c.seed, 1) * (30 * Gen.DaySecs))).as("ts"),
      col("id").as("tb"),
      (floor(Gen.u(c.seed, 2) * 1e6) / 100).as("f_double"),
      concat(lit("s"), floor(Gen.u(c.seed, 3) * 1000).cast("string")).as("f_str"),
      floor(Gen.u(c.seed, 4) * 1e5).cast("long").as("f_long"))
    val kv = c.work.resolve("serve/kv").toString
    var fs: FeatureStore = null

    c.setup(if (c.smoke) 1 else 3) { _ =>
      if (java.nio.file.Files.exists(c.work.resolve("serve/kv"))) KvStore.destroy(kv)
      c.workDir("serve/kv")
      KvStore.upsertLatest(history, kv, "key", "ts", "tb", Features)
      fs = new FeatureStore(spark)
      fs.applyView(FeatureView("serve_view", history, "key", "ts", "tb", Features))
      fs.materialize("serve_view").count()
    }
    val expected: Map[String, Seq[Any]] =
      Materialize.latestPerKey(history, "key", "ts", "tb").collect()
        .map(r => r.getAs[Long]("key").toString -> Features.map(r.getAs[Any](_)))
        .toMap
    val missing = Seq.fill[Any](Features.size)(null)
    val rnd = new java.util.SplittableRandom(c.seed)
    def hot(): Long = (math.floor(math.pow(HotKeys.toDouble, rnd.nextDouble())) - 1).toLong
    def uniform(): Long = rnd.nextLong(keys + keys / 10)
    def request(i: Long): Seq[String] =
      Seq.fill(3)(if (i % 2 == 0) hot() else uniform()).map(_.toString)

    def get(ks: Seq[String], check: Boolean): Unit =
      c.attempt("KvStore.getBatch") {
        val r = c.tracer.span("sources.KvStore", "getBatch", sparkWork = false) {
          KvStore.getBatch(kv, ks)
        }
        if (check) {
          val want = ks.map(expected.getOrElse(_, missing))
          if (r != want) c.wrong("KvStore.getBatch", s"keys $ks: got $r, want $want")
        }
      }
    def online(ks: Seq[Long]): Unit =
      c.attempt("FeatureStore.getOnlineFeatures") {
        val out = onlineRead(c, fs, "serve_view", "key", ks)
        val got = out.toSeq.map(r => Features.map(f => r.getAs[Any](s"serve_view__$f")))
        val want = ks.map(k => expected.getOrElse(k.toString, missing))
        if (out.map(_.getAs[Long]("key")).toSeq != ks || got != want)
          c.wrong("FeatureStore.getOnlineFeatures", s"keys $ks: got $got, want $want")
      }

    // untimed warm-up of both read paths
    (0 until 5000).foreach(i => get(request(i), check = false))
    (0 until 3).foreach(_ => online(Seq(hot(), uniform(), uniform())))

    c.tracer.begin()
    val shares = rates.indices.map(i => if (i == 0) 0.4 else 0.3 / (rates.size - 1))
    val steps = rates.zip(shares).map { case (rate, share) =>
      rate -> new OpenLoop(rate).run(c.seconds * share) { i =>
        get(request(i), check = i % 8 == 0)
      }
    }
    val dfLoop = new OpenLoop(dfRate).run(c.seconds * 0.3) { _ =>
      online(Seq(hot(), uniform(), uniform()))
    }
    c.tracer.finish()
    c.phase("measured")
    c.liveHeap("at the end of the timed phase")

    val base = Stats.sorted(steps.head._2.latency)
    val top = steps.last._2
    c.opMetrics(base, top.achieved,
      tail = Some((Stats.pct(base, 99), s"p99 of ${base.length}")))
    c.name("serve_p50_us", Stats.median(base) / 1e3, "us",
      s"at ${rates.head.toInt}/s, ${base.length} requests")
    c.name("serve_p99_us", Stats.pct(base, 99) / 1e3, "us")
    steps.foreach { case (rate, l) =>
      val a = Stats.sorted(l.latency)
      c.name(s"serve_p99_us_at_${rate.toInt}", Stats.pct(a, 99) / 1e3, "us",
        f"achieved ${l.achieved}%.0f/s, growing lag ${l.growingLag}")
    }
    val ok = steps.filter { case (_, l) =>
      Stats.pct(Stats.sorted(l.latency), 99) <= SloNanos && !l.growingLag
    }
    c.name("serve_max_rps", ok.lastOption.map(_._1).getOrElse(0.0), "1/s",
      "highest ladder rate with p99 <= 1 ms and no growing lag")
    c.name("top_rate_achieved_per_s", top.achieved, "1/s")
    val dfl = Stats.sorted(dfLoop.latency)
    c.name("online_df_p50_ms", Stats.median(dfl) / 1e6, "ms",
      s"getOnlineFeatures at ${dfRate.toInt}/s, ${dfl.length} calls")

    if (c.tracer.enabled) {
      KvSpans.record(c, Stats.sorted(steps.head._2.late))
      KvSpans.space(c, c.work.resolve("serve/kv"), expected.size, rows)
      onlineLayer(c)
    }
    KvStore.destroy(kv)
  }

  /** One `FeatureStore.getOnlineFeatures` call for the long keys `ks` of
    * column `keyCol`, spanned as planning (forcing `executedPlan`) and
    * execution (`collect`). */
  def onlineRead(c: Ctx, fs: FeatureStore, view: String, keyCol: String,
                 ks: Seq[Long]): Array[Row] =
    c.tracer.span("FeatureStore", "getOnlineFeatures") {
      val df: DataFrame = fs.getOnlineFeatures(c.spark.createDataFrame(
        java.util.Arrays.asList(ks.map(Row(_)): _*),
        StructType(Seq(StructField(keyCol, LongType)))), view)
      c.tracer.span("FeatureStore", "online_plan")(df.queryExecution.executedPlan)
      c.tracer.span("FeatureStore", "online_exec")(df.collect())
    }

  def onlineLayer(c: Ctx): Unit =
    Seq("online_plan", "online_exec").foreach { n =>
      c.layer(s"FeatureStore.${n}_ms") =
        (Stats.median(Stats.sorted(c.tracer.nanos("FeatureStore", n))) / 1e6, "ms")
    }
}
