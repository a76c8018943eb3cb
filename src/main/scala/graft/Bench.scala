package graft

/** Throughput sweep: `runMain graft.Bench [<query>...]` times every
  * `SparkEntry.queries` entry at `SPARK_GRAFT_SF_DIR` on
  * `SPARK_GRAFT_CPUS` cores (default 4) and prints one JSON line.
  * Query names given as arguments filter the sweep (the single-query dev
  * loop); a filtered run skips the artifact pass and leaves
  * `BENCH_FULL.json` alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq else args.toSeq.distinct
    val spark = LocalSession(LocalSession.envCpus())
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup on the SMALLEST corpus (not sfDir, so the bench data
    // itself stays cold): pays JVM/JIT, codegen-compiler, parquet reader and
    // shuffle-machinery startup once, so the measured loop times query work.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // TWO FULL SWEEP PASSES, per-query min ACROSS passes (not back-to-back
    // min-of-2): back-to-back reruns share their sweep neighbors' page-cache
    // and GC weather, which round 6 showed still manufactures ~0.5 s
    // position-dependent swings that warm single-query reruns refute.
    // Separating the two samples by a whole sweep decorrelates that ambient
    // pressure. A throwing query is recorded in `errors` (and its wall time
    // NEVER reported as a timing) so a fast failure can't pose as a fast
    // success.
    // The timed action is queryExecution.toRdd.count(), NOT df.count():
    // count() re-optimizes with the count on top, which PRUNES the query's
    // own work — unused aggregate expressions (exact percentiles!), all
    // projections, and every sort are eliminated, so a 1-row-agg or
    // narrow-transform query was being timed doing ~none of its work
    // (q_percentiles: 0.14 s under count() vs 3.8 s real). toRdd executes
    // the query's OWN optimized plan — every column computed, sorts kept —
    // without paying driver-side result serialization.
    def sweep(): Map[String, Either[String, Double]] =
      names.map { name =>
        val t0 = System.nanoTime()
        name -> attempt {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
      }.toMap
    val p1 = sweep()
    val p2 = sweep()
    val merged = names.map { name =>
      name -> ((p1(name), p2(name)) match {
        case (Right(a), Right(b)) => Right(math.min(a, b))
        case (Right(a), Left(_))  => Right(a)
        case (Left(_), Right(b))  => Right(b)
        case (Left(m), Left(_))   => Left(m)
      })
    }
    val timings = merged.collect { case (k, Right(v)) => k -> v }
    val errors = merged.collect { case (k, Left(m)) => k -> Json.str(m) }
    val total = timings.map(_._2).sum
    // Pin-cold artifact-build instrumentation (round 13, ADDITIVE — the
    // timed contract above is untouched): every Shared pin survives
    // between the two sweep passes, so the per-query min is pin-warm and
    // one-time artifact builds are charged to no query. Rebuild each
    // artifact in a FRESH session (session-keyed caches rebuild there)
    // and report its build seconds as a separate field. NOT added to
    // "value" — these seconds are the hidden build cost the sweep total
    // already excluded, now visible instead of invisible. A failed build
    // is reported under its name in "artifact_errors".
    val s2 = spark.newSession()
    val builds =
      if (args.nonEmpty) Seq.empty
      else registry.Shared.artifactBuilders.map { case (name, build) =>
        val t0 = System.nanoTime()
        name -> attempt { build(s2, sfDir); (System.nanoTime() - t0) / 1e9 }
      }
    val qs = Json.obj(timings.map { case (k, v) => k -> v.toString })
    val ab = Json.obj(builds.collect { case (k, Right(v)) => k -> v.toString })
    val abErrs =
      Json.obj(builds.collect { case (k, Left(m)) => k -> Json.str(m) })
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":${Json.obj(errors)},"artifact_builds":$ab,""" +
        s""""artifact_errors":$abErrs,"sf":${Json.str(sfDir)}}"""
    println(line)
    // ALSO persist the full per-query map to a repo file: the driver's
    // BENCH_rN.json captures only a truncated stdout tail (~63 queries of
    // ~500), which made cross-round per-query diffs impossible (round-10
    // verdict #4). BENCH_FULL.json is committed after each sweep so any
    // round can be diffed against any other query-by-query.
    if (args.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), line + "\n")
      catch { case _: Throwable => () } // bench must never fail on a write
    spark.stop()
  }

  /** `body`'s value, or its failure as "Class: message". */
  private def attempt(body: => Double): Either[String, Double] =
    try Right(body)
    catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
}
