package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators: every value is a hash of (seed, row id, salt),
  * so one seed always gives the same inputs, at any parallelism. */
object Gen {
  /** 2024-03-01 00:00:00 UTC, the epoch of every generated clock. */
  val Epoch = 1709251200L
  val DaySecs = 86400L

  /** Uniform [0, 1) from (seed, id, salt). */
  def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)

  /** Zipf-like user id in [0, users): log-uniform, so P(id) ~ 1 / (id + 1). */
  def zipf(seed: Long, salt: Int, users: Long): Column =
    least(floor(pow(lit(users.toDouble), u(seed, salt))) - 1, lit(users - 1))
      .cast("long")

  def ntz(secs: Column): Column = timestamp_seconds(secs).cast("timestamp_ntz")

  /** Raw clickstream rows `[lo, hi)` in the `events` table schema (event_id,
    * ts, user_id, event_type, value, props). Event time advances
    * `step` seconds per row; 5 % of rows are stamped up to two hours
    * earlier, so they arrive out of order. Values are whole numbers, so
    * every sum is exact in any order. */
  def events(spark: SparkSession, seed: Long, lo: Long, hi: Long, users: Long,
             step: Double): DataFrame = {
    val kind = u(seed, 3)
    val late = when(u(seed, 4) < 0.05, floor(u(seed, 5) * 7200)).otherwise(0)
    spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism).select(
      col("id").as("event_id"),
      ntz(lit(Epoch) + floor((col("id") + u(seed, 1)) * step) - late).as("ts"),
      zipf(seed, 2, users).as("user_id"),
      when(kind < 0.50, "view").when(kind < 0.75, "click")
        .when(kind < 0.85, "cart").when(kind < 0.93, "purchase")
        .when(kind < 0.97, "signup").otherwise("error").as("event_type"),
      floor(u(seed, 6) * 100).cast("double").as("value"),
      concat(lit("{\"k\":"), floor(u(seed, 7) * 50).cast("string"), lit("}"))
        .as("props"))
  }
}
