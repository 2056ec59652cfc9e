package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation: decompose a query's bench cost into
  * DataFrame CONSTRUCTION time (query function call: table reads + logical
  * plan building) vs EXECUTION time (noop sink), and count the Spark jobs
  * each construction and execution schedules — the "job floor" number the
  * PERF ledger cites. Construction jobs are the ones an operator runs at
  * call time (the iterative `connectedComponents` and `kmeansCentroids`).
  *
  * {{{
  * sbt 'runMain graft.ProbeOverhead /root/testdata/sf0.1 q1_filter_pushdown q59_ngram_jaccard'
  * }}}
  */
object ProbeOverhead {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProbeOverhead sfDir queryName...")
    val sfDir = args(0); val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.hll.GraftSparkExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def clear(): Unit = {
      // Matches Bench.clearCacheState: no cached state between runs, so
      // the 3 timed runs below pay the full query, JIT-hot.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // Warmup — TIMED and printed as `cold=`: the first execution,
      // session warm-in and JIT compilation included; the three runs
      // below are the JIT-hot floor.
      val c0 = System.nanoTime()
      try exec(fn(spark, sfDir)) catch { case t: Throwable =>
        System.err.println(s"WARN warmup $n failed: $t") }
      val cold = (System.nanoTime() - c0) / 1e9
      clear()
      val rows = (1 to 3).map { _ =>
        val c0j = jobs.get()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val j0 = jobs.get()
        val cj = j0 - c0j
        try exec(df) catch { case t: Throwable =>
          System.err.println(s"WARN timed run $n failed: $t") }
        val t2 = System.nanoTime()
        val nj = jobs.get() - j0
        clear()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, nj, cj)
      }
      val con = rows.map(_._1).sorted.apply(1)
      val ex = rows.map(_._2).sorted.apply(1)
      val nj = rows.map(_._3).max
      val ncj = rows.map(_._4).max
      println(f"PROBE $n%s cold=$cold%.3f construct=$con%.3f exec=$ex%.3f jobs=$nj%d construct_jobs=$ncj%d " +
        rows.map(r => f"(${r._1}%.3f,${r._2}%.3f,${r._3}%d,${r._4}%d)").mkString(" "))
    }
    spark.stop()
  }
}
