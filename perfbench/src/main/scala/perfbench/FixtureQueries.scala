package perfbench

import java.io.File

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The query part of the pipeline workload: fixture queries
 * (`graft.SparkEntry.queries`) over a seeded `events` table with the harness
 * schema. q67 drains a streaming query synchronously inside the query call,
 * so the streaming micro-batch floor and per-job dispatch dominate it.
 * Outputs are checked against the DuckDB oracle SQL
 * (`graft.SparkEntry.oracleSql`) by oracle.py after the run.
 */
object FixtureQueries extends Workload {
  val name = "queries"
  val Queries: Seq[String] = Seq("q67_streaming_daily_counts")
  /** Rows of the seeded events table (the harness's sf0.01 size). */
  val Events = 10000L

  def ops(ctx: Ctx): Seq[Op] = {
    val all = graft.SparkEntry.queries
    Queries.map(q => Op(q, spark => all(q)(spark, ctx.input("fixtures"))))
  }

  def setup(ctx: Ctx): Unit = writeEvents(ctx.spark, ctx.seed, ctx.input("fixtures"))

  /** The oracle SQL of every query, for oracle.py. */
  def expect(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(new File(ctx.work, "oracle_sql.json").toPath,
      Json.write(Queries.map(q => q -> oracle(q)).toMap))
  }

  /** Checked by oracle.py against DuckDB once the JVM has exited. */
  def check(ctx: Ctx, op: String, paths: Seq[String]): Map[String, String] = Map.empty

  def provenance(ctx: Ctx): Map[String, Any] =
    Map("queries" -> Queries, "events" -> Events,
      "events_bytes" -> new File(ctx.input("fixtures"), "events.parquet").length())

  def kernelInputs(ctx: Ctx): Kernels.Inputs = DedupPipeline.kernelInputs(ctx)

  /**
   * `events.parquet` as in the fixture tables (one file, TIMESTAMP(MICROS)):
   * 30 days of events in time order, jittered within each id's slot, over
   * 1.5 % as many users as events, five event types, exponential values and
   * `{"k": n}` props.
   */
  def writeEvents(spark: SparkSession, seed: Long, dir: String): Unit = {
    val id = col("id")
    def below(salt: Int, n: Long): Column = pmod(Gen.h(id, seed, salt), lit(n))
    val types = array(Seq("click", "error", "purchase", "signup", "view").map(lit): _*)
    val events = spark.range(0, Events, 1, 1).select(id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) +
        ((id + Gen.u(id, seed, 27)) * lit(30.0 * 86400 * 1e6 / Events)).cast("long")).as("ts"),
      below(28, (Events * 0.015).toLong).as("user_id"),
      element_at(types, (below(29, 5) + 1).cast("int")).as("event_type"),
      round(-log(lit(1.0) - Gen.u(id, seed, 30)) * lit(50.0), 2).as("value"),
      format_string("{\"k\": %d}", below(31, 100)).as("props"))
    val out = new File(dir)
    val tmp = new File(out, "_events")
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try events.write.mode("overwrite").parquet(tmp.getPath)
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = new File(out, "events.parquet")
    target.delete()
    require(part.renameTo(target), s"could not move $part to $target")
    Harness.deleteRecursively(tmp)
  }
}
