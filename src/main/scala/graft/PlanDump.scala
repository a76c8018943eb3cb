package graft

/** Dumps `.explain("formatted")` for named registry queries to files —
  * the per-query plan evidence trail for optimization rounds
  * (`plans/rN/<query>_{before,after}.txt`).
  *
  * `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <query>..."`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Same planner conf
  * as [[PlanAudit]] (AQE off so the post-EnsureRequirements plan is the
  * one printed; bucket sort order exposed) so exchange/sort counts are
  * comparable to PLANS.md and stable across runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = LocalSession(4, "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- args.drop(3)) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        s"== $q (explain formatted, $sfDir, AQE off) ==\n" + txt)
      println(s"[plandump] wrote $q")
    }
    spark.stop()
  }
}
