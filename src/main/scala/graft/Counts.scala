package graft

/** Writes the LIVE registry counts to `target/graft-counts.json` (and
  * stdout) — the generated-counts close tool. Hand-synced README/COVERAGE
  * numbers drifted in two consecutive rounds (584-vs-586, 591-vs-593:
  * counts synced at close, then post-close commits added specs without
  * re-syncing), so the numbers are now DERIVED: this main reads the
  * registry itself, `tools/gen_counts.py` reads this JSON plus the
  * ScalaTest suite XMLs and rewrites the count-bearing lines, and
  * CountsSpec asserts README/COVERAGE match the live registry on every
  * `sbt test`. No SparkSession needed — the registry maps are plain data.
  */
object Counts {
  def main(args: Array[String]): Unit = {
    val q = SparkEntry.queries.size
    val rowsOnly =
      (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted
    val stray = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    require(stray.isEmpty,
      s"oracleSql entries without a registered query: $stray")
    val json =
      s"""{"queries":$q,"oracles":${SparkEntry.oracleSql.size},""" +
        s""""rows_only":${rowsOnly.map(Json.str).mkString("[", ",", "]")}}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/graft-counts.json"), json)
    println(json)
  }
}
