package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession built by
  * [[LocalSession]] on 4 cores, the conf of the Verify harness.
  */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession(4)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[String]

  /** A fresh directory under the system temp dir, deleted with everything
    * in it when the suite ends. If the context's reliable-checkpoint dir
    * (which `ops.Ckpt.cut` sets on first use) lies under one of them, it
    * is unset then too, so no later suite writes into a deleted dir. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs += dir
    dir
  }

  override def afterAll(): Unit = {
    try {
      if (tempDirs.nonEmpty) {
        val sc = spark.sparkContext
        val ckpt = sc.getCheckpointDir
          .map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
        if (ckpt.exists(c => tempDirs.exists(d => c.startsWith(d + "/"))))
          sc.setCheckpointDir(null) // a local context accepts null: unset
        tempDirs.foreach(d =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
        tempDirs.clear()
      }
    } finally super.afterAll()
  }

  /** Spark jobs started by `body`. A marker job runs after it: listener
    * events arrive in order, so once the marker's start is seen every
    * job `body` started has been counted. */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == "spark-spec-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("spark-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
