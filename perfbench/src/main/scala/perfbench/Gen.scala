package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generation. Every value is a hash of (row id, seed, salt),
 * so a seed gives the same rows whatever the partitioning or core count.
 */
object Gen {
  /** 64-bit pseudo-random value of the row `id` for (seed, salt). */
  def h(id: Column, seed: Long, salt: Int): Column = xxhash64(id, lit(seed), lit(salt))

  /** Uniform double in [0, 1). */
  def u(id: Column, seed: Long, salt: Int): Column =
    shiftrightunsigned(h(id, seed, salt), 11).cast("double") / lit(9.007199254740992e15)

  /** Integer in [0, n) with density ∝ x^(1/skew - 1): skew 1 is uniform,
   * larger skews concentrate mass on small values. */
  def skewed(id: Column, seed: Long, salt: Int, n: Long, skew: Double): Column =
    floor(pow(u(id, seed, salt), lit(skew)) * lit(n)).cast("long")

  /** The sketch workloads' event stream: a skewed `user_id`, a day, a
   * source, a positive heavy-tailed `value` and a skewed string `item`. */
  def events(spark: SparkSession, seed: Long, rows: Long, users: Long, items: Long,
      partitions: Int): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, partitions).select(
      id.as("event_id"),
      skewed(id, seed, 1, users, 2.0).as("user_id"),
      skewed(id, seed, 2, Events.Days, 1.0).cast("int").as("day"),
      concat(lit("s"), skewed(id, seed, 3, Events.Sources, 1.0)).as("source"),
      exp(u(id, seed, 4) * lit(6.0)).as("value"),
      concat(lit("item_"), skewed(id, seed, 5, items, 3.0)).as("item"))
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

object Events {
  val Days = 30L
  val Sources = 8L
}
