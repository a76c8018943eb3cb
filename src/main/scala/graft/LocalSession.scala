package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured: every harness main
  * and the test `SparkSpec` build theirs here, so the bench times queries
  * under the same conf the Verify/oracle harness checks them under.
  *
  *   - `local[cpus]`, with one shuffle partition per core;
  *   - UTC session time zone (the oracle's);
  *   - bucket sortBy order exposed to planning
  *     (`bucketedTableScan.outputOrdering`, off by default since Spark
  *     3.0), so the bucketed as-of path plans sort-free whatever the
  *     order in which the registry's queries run;
  *   - no UI.
  *
  * `conf` adds the call site's own settings (AQE off for the plan
  * dumpers, the RocksDB state store for `StreamBench`).
  */
object LocalSession {

  /** Cores for the env-sized harnesses: `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def apply(cpus: Int, conf: (String, String)*): SparkSession =
    (Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.ui.enabled" -> "false") ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
}
