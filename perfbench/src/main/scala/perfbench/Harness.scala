package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` calls into the library and returns the
 * frame the op produces (timed as `construct`); the harness then persists
 * that frame to parquet (timed as `exec`). */
final case class Op(name: String, build: SparkSession => DataFrame)

/** Per-run state shared by a workload's set-up, ops and checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File) {
  val inputDir: File = new File(work, "input")
  val outDir: File = new File(work, "out")
  def input(name: String): String = new File(inputDir, name).getPath

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  /** Parquet read with the schema inferred once per path, so an op's
   * construct phase holds no schema-inference job of the harness's own. */
  def read(path: String): DataFrame =
    spark.read.schema(schemas.computeIfAbsent(path, p => spark.read.parquet(p).schema)).parquet(path)
}

/** A seeded workload. `setup` regenerates every input from the seed; it
 * must be safe to call repeatedly (the harness times several set-ups per
 * run). `expect` then computes, once and untimed, the expectations the
 * checks compare against. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): Unit
  def expect(ctx: Ctx): Unit
  /** The timed op list, in run order. */
  def ops(ctx: Ctx): Seq[Op]
  /** Checks the persisted outputs of `op`, one path per attempt. Returns
   * the failing paths with a reason. */
  def check(ctx: Ctx, op: String, paths: Seq[String]): Map[String, String]
  /** Input sizes and properties, reported with every result. */
  def provenance(ctx: Ctx): Map[String, Any]
  /** Values the kernel loops are fed with, drawn from this workload's inputs. */
  def kernelInputs(ctx: Ctx): Kernels.Inputs
  /** Workload-level layer counts measured outside the timed window
   * (e.g. LSH candidate volume); traced runs only. */
  def layerCounts(ctx: Ctx, outputs: Map[String, String]): Map[String, Double] = Map.empty
}

/** One op execution, as recorded in the raw result. */
final case class Attempt(
    phase: String, pass: Int, op: String, path: String,
    totalS: Double, constructS: Double, execS: Double,
    var error: Option[String], storedBytes: Long, heapAfterMb: Double,
    storageMb: Double, layer: Map[String, Any])

object Harness {
  val SetupReps = 3
  val WarmPasses = 2
  val OpTimeoutS = 120L

  private def now: Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Isolation between ops, outside every timed window: drop the library's
   * operator memos and Spark's cache, unpersist blocking, stop any stream
   * an op left running, then collect garbage. */
  def isolate(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    graft.clearAllMemos(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val rawOut = new File(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Session.build(cores, work)
    val ctx = new Ctx(spark, seed, work)
    val wl = Workloads.byName(workload)
    val tracer = new Tracer(spark)
    val attempts = mutable.ArrayBuffer[Attempt]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val watchdog = Executors.newSingleThreadScheduledExecutor()

    def runOp(op: Op, phase: String, pass: Int, traced: Boolean): Attempt = {
      val path = new File(ctx.outDir, s"$phase-$pass/${op.name}")
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.op", s"$phase-$pass/${op.name}")
      if (traced) tracer.beginOp(s"$phase-$pass/${op.name}")
      @volatile var timedOut = false
      val alarm = watchdog.schedule(new Runnable {
        def run(): Unit = { timedOut = true; sc.cancelAllJobs() }
      }, OpTimeoutS, TimeUnit.SECONDS)
      var error: Option[String] = None
      val t0 = now
      var t1 = t0
      try {
        if (traced) tracer.phase("construct")
        sc.setLocalProperty("perfbench.phase", "construct")
        val df = op.build(spark)
        t1 = now
        if (traced) tracer.phase("exec")
        sc.setLocalProperty("perfbench.phase", "exec")
        df.write.mode("overwrite").parquet(path.getPath)
      } catch {
        case t: Throwable =>
          error = Some(if (timedOut) s"timed out after $OpTimeoutS s" else t.toString.take(500))
      }
      val t2 = now
      alarm.cancel(false)
      if (t1 == t0) t1 = t2
      val layer = if (traced) tracer.endOp() else Map.empty[String, Any]
      val storage = if (traced) storageMb(spark) else 0.0
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
      isolate(spark)
      val a = Attempt(phase, pass, op.name, path.getPath, secs(t2 - t0), secs(t1 - t0),
        secs(t2 - t1), error, dirBytes(path), heapUsedMb, storage, layer)
      error.foreach(e => System.err.println(s"[perfbench] ${op.name} ($phase $pass) failed: $e"))
      attempts += a
      a
    }

    /** Runs the op list once; with a `deadline`, stops before an op once
     * the deadline has passed (the pass is then recorded as incomplete). */
    def runPass(ops: Seq[Op], phase: String, pass: Int, traced: Boolean,
        deadline: Long = Long.MaxValue): Unit = {
      if (traced) tracer.beginPass(s"$phase-$pass")
      val as = ops.iterator.takeWhile(_ => now < deadline).map(runOp(_, phase, pass, traced)).toList
      if (traced) tracer.endPass()
      passes += Map("phase" -> phase, "pass" -> pass, "wall_s" -> as.map(_.totalS).sum,
        "complete" -> (as.size == ops.size))
    }

    /** Closed loop, one client: passes back to back until `windowNs` is
     * spent, always finishing the first pass. */
    def measure(ops: Seq[Op], phase: String, windowNs: Long, traced: Boolean,
        firstPass: Int = 0): Unit = {
      val deadline = now + windowNs
      var pass = firstPass
      runPass(ops, phase, pass, traced)
      while (now < deadline) { pass += 1; runPass(ops, phase, pass, traced, deadline) }
    }

    val runStart = now
    Harness.deleteRecursively(ctx.outDir)
    val setupS = (1 to SetupReps).map { _ =>
      val t = now
      wl.setup(ctx)
      secs(now - t)
    }
    val expectStart = now
    wl.expect(ctx)
    val expectS = secs(now - expectStart)
    // Warm-up: untimed passes over the timed inputs (class loading,
    // codegen, JIT on the at-scale paths; after one pass the next is still
    // measurably slower).
    val ops = wl.ops(ctx)
    val warmStart = now
    (0 until WarmPasses).foreach(p => runPass(ops, "warm", p, traced = false))
    val warmupS = secs(now - warmStart)
    val firstOpMs = System.currentTimeMillis()

    // A traced run spends the middle third of the window traced and the
    // thirds before and after it untraced: the reference for tracing
    // overhead, on both sides so that warm-up drift cancels.
    val windowNs = (seconds * 1e9).toLong
    if (!trace) measure(ops, "timed", windowNs, traced = false)
    else {
      measure(ops, "timed", windowNs / 3, traced = false)
      tracer.install()
      tracer.beginRun()
      measure(ops, "traced", windowNs / 3, traced = true)
      tracer.endRun()
      tracer.uninstall()
      val before = passes.count(_("phase") == "timed")
      measure(ops, "timed", windowNs / 3, traced = false, firstPass = before)
    }

    val kernelStart = now
    val kernels: Map[String, Double] = if (trace) Kernels.run(wl.kernelInputs(ctx)) else Map.empty
    val kernelS = secs(now - kernelStart)
    val layerCounts: Map[String, Double] =
      if (trace) {
        val lastTraced = attempts.filter(a => a.phase == "traced" && a.error.isEmpty)
          .map(a => a.op -> a.path).toMap
        try wl.layerCounts(ctx, lastTraced)
        catch { case t: Throwable =>
          System.err.println(s"[perfbench] layer counts failed: $t"); Map.empty
        }
      } else Map.empty

    // Output checks, outside every timed window: one batch per op over
    // every attempt that produced output, the ops' batches concurrently.
    val checkStart = now
    // The check queries are small and run once each: compiling them would
    // cost more than interpreting them. Measurement is over by now.
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val pool = Executors.newFixedThreadPool(cores)
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val checks = attempts.filter(_.error.isEmpty).groupBy(_.op).toSeq.map { case (op, as) =>
      scala.concurrent.Future {
        val t = now
        val failures =
          try wl.check(ctx, op, as.map(_.path).toSeq)
          catch { case t: Throwable => as.map(_.path -> s"check threw: $t").toMap }
        System.err.println(f"[perfbench] checked $op (${as.size} outputs) in ${secs(now - t)}%.2f s")
        (as, failures)
      }
    }
    checks.foreach { f =>
      val (as, failures) = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      as.foreach(a => failures.get(a.path).foreach { why =>
        a.error = Some(s"check: $why")
        System.err.println(s"[perfbench] ${a.op} (${a.phase} ${a.pass}) failed its check: $why")
      })
    }
    pool.shutdown()
    val checkS = secs(now - checkStart)
    val spansFile = new File(work, s"spans-$workload-$seed.json")
    if (trace) tracer.writeSpans(spansFile)
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "provenance" -> wl.provenance(ctx),
      "setup_s" -> setupS,
      "expect_s" -> expectS,
      "warmup_s" -> warmupS,
      "kernels_s" -> kernelS,
      "checks_s" -> checkS,
      "process_start_to_first_op_s" -> (firstOpMs - processStartMs) / 1000.0,
      "run_s" -> secs(now - runStart),
      "passes" -> passes,
      "attempts" -> attempts.map { a =>
        Map("phase" -> a.phase, "pass" -> a.pass, "op" -> a.op, "path" -> a.path,
          "total_s" -> a.totalS, "construct_s" -> a.constructS, "exec_s" -> a.execS,
          "error" -> a.error, "stored_bytes" -> a.storedBytes,
          "heap_after_op_mb" -> a.heapAfterMb, "storage_mb" -> a.storageMb,
          "layer" -> a.layer)
      },
      "kernels" -> kernels,
      "layer_counts" -> layerCounts,
      "spans_file" -> (if (trace) spansFile.getPath else null))
    rawOut.getParentFile.mkdirs()
    java.nio.file.Files.writeString(rawOut.toPath, Json.write(raw))
    watchdog.shutdownNow()
    spark.stop()
  }
}

object Session {
  /** `graft.Bench`'s session shape on `local[cores]`; shuffle files and the
   * warehouse under `work` (run.py points java.io.tmpdir, where streaming
   * queries put their temporary checkpoints, there too). */
  def build(cores: Int, work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .withExtensions(new graft.hll.GraftSparkExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
