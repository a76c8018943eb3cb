package graft

import graft.ops.Retrieval

/** The plan shape of the as-of join: it runs the custom AsOfJoinExec node,
  * and over bucketed-sorted inputs it needs no exchange and no sort.
  */
class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val features = Seq(
    (1L, ts("2024-01-01 00:00:00"), 10.0),
    (1L, ts("2024-01-05 00:00:00"), 50.0),
    (2L, ts("2024-01-03 00:00:00"), 30.0)
  ).toDF("user_id", "fts", "fval")

  private val probes = Seq(
    (100L, 1L, ts("2024-01-06 00:00:00")), // hits day5
    (101L, 1L, ts("2024-01-05 00:00:00")), // boundary: fts == ts
    (102L, 2L, ts("2024-01-10 00:00:00")), // boundary: fts == ts - ttl
    (103L, 1L, ts("2024-02-01 00:00:00")), // beyond ttl
    (104L, 2L, ts("2024-01-01 00:00:00")), // before any feature
    (105L, 99L, ts("2024-01-06 00:00:00")) // no history
  ).toDF("event_id", "user_id", "ts")

  private def asOf(p: org.apache.spark.sql.DataFrame,
                   f: org.apache.spark.sql.DataFrame) =
    Retrieval.asOfJoin(p, f, "user_id", "ts", "fts", "INTERVAL 7 DAYS",
      Seq("fval"))

  private def fvals(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "fval").as[(Long, Option[Double])].collect().toMap

  test("plan contains the custom AsOfJoinExec node") {
    val hasExec = asOf(probes, features).queryExecution.sparkPlan.collect {
      case e: graft.plans.AsOfJoinExec => e
    }.nonEmpty
    assert(hasExec)
  }

  test("bucketed-sorted inputs run the as-of join exchange-free and sort-free") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // one task per bucket → one sorted file per bucket, the condition for
    // the scan to carry the sortBy order into outputOrdering
    probes.repartition(4, $"user_id").write.mode("overwrite")
      .bucketBy(4, "user_id").sortBy("user_id", "ts").saveAsTable("asof_p_b")
    features.repartition(4, $"user_id").write.mode("overwrite")
      .bucketBy(4, "user_id").sortBy("user_id", "fts").saveAsTable("asof_f_b")
    try {
      val df = asOf(spark.table("asof_p_b"), spark.table("asof_f_b"))
      // audit the POST-EnsureRequirements plan: requirement-driven
      // exchanges/sorts are only inserted during preparation, so the
      // pre-preparation sparkPlan would be vacuously exchange-free. AQE
      // off so executedPlan is a plain walkable tree; the session exposes
      // the per-bucket sortBy order (LocalSession's
      // bucketedTableScan.outputOrdering — without it the merge's ordering
      // requirement forces a per-partition Sort even over single-file
      // sorted buckets).
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      var shuffles = 0; var sorts = 0
      try df.queryExecution.executedPlan.foreach {
        case _: ShuffleExchangeExec => shuffles += 1
        case _: SortExec => sorts += 1
        case _ =>
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
      assert(shuffles == 0, "bucketed as-of join must not shuffle")
      assert(sorts == 0, "sorted buckets must satisfy the merge's ordering")
      // and the fast path computes the same result
      assert(fvals(df) == fvals(asOf(probes, features)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS asof_p_b")
      spark.sql("DROP TABLE IF EXISTS asof_f_b")
    }
  }
}
