package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.registry.Shared

/** The shared-artifact declaration: its names are the benchmark's
  * per-layer names, and each builder fills the cache its accessor reads.
  */
class SharedSpec extends SparkSpec {

  /** Spark jobs started by `body`. A marker job runs after it: listener
    * events arrive in order, so once the marker's start is seen every
    * job `body` started has been counted. */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == "shared-spec-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("shared-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("artifactBuilders are BENCHMARK.json's registry.Shared per-layer " +
      "names, in order") {
    val benched = "\"registry\\.Shared\\.(\\w+)_s\"".r
      .findAllMatchIn(Files.readString(Paths.get("BENCHMARK.json")))
      .map(_.group(1)).toSeq
    assert(benched.size == 17)
    assert(Shared.artifactBuilders.map(_._1) == benched)
  }

  test("after its builder runs in a fresh session, each accessor returns " +
      "the cached value: the same table object, no new Spark job") {
    val tables = Seq(Shared.bpeMerges, Shared.unigramTable,
      Shared.wordPieceTables)
    val frames = Seq(Shared.coOrderPairWeights, Shared.coOrderEdges,
      Shared.cfKept, Shared.cfSigs, Shared.cfNeighbors, Shared.recTopK,
      Shared.lrWeights, Shared.lrScored, Shared.lmScored,
      Shared.winnowSpans, Shared.minhashSigs64, Shared.shingles3,
      Shared.dupSpans, Shared.dedupedLines)
    assert((frames ++ tables).map(_.name).sorted ==
      Shared.artifactBuilders.map(_._1).sorted)
    val s = spark.newSession()
    Shared.artifactBuilders.foreach { case (_, build) => build(s, sfDir) }
    for (a <- frames ++ tables) {
      var got: Any = null
      assert(jobsIn { got = a(s, sfDir) } == 0, s"${a.name} rebuilt")
      if (tables.contains(a))
        assert(got.asInstanceOf[AnyRef] eq a(s, sfDir).asInstanceOf[AnyRef])
    }
    // a new session gets its own build
    assert(jobsIn(Shared.bpeMerges(spark.newSession(), sfDir)) > 0)
  }
}
