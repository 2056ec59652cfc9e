package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: for a NAMED SUBSET of
  * `SparkEntry.queries`, write each query's `.explain("formatted")` text to
  * `outDir/<name>_<tag>.txt` and print a solo timing (1 untimed warmup +
  * 3 noop-sink runs, median) — the evidence files the optimization ledger
  * and `plans/r17/` commit.
  *
  * {{{
  * sbt 'runMain graft.PlanDump plans/r17 before /root/testdata/sf0.1 q54_lsh_neardup'
  * }}}
  *
  * args: outDir tag sfDir queryName [queryName...]
  * Streaming queries (memory-sink runners) get plan text only for the
  * DataFrame the query function returns; their timing is still the full
  * run-to-drain cost, same as the bench methodology.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump outDir tag sfDir queryName...")
    val outDir = args(0); val tag = args(1); val sfDir = args(2)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.hll.GraftSparkExtensions)
      .master(s"local[$cpus]")
      .appName("graft-plan-dump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Preflight.check(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    def clear(): Unit = {
      // Matches Bench.clearCacheState: no cached state between runs.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(s"plandump:$n")
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), plan)
      clear()
      // warmup + 3 timed runs, bench methodology (noop sink, median)
      try exec(fn(spark, sfDir)) catch { case t: Throwable =>
        System.err.println(s"WARN warmup $n failed: $t") }
      clear()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        exec(fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        clear()
        dt
      }
      val med = times.sorted.apply(1)
      println(f"SOLO $n%s $tag%s median=$med%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}%s")
    }
    spark.stop()
  }
}
