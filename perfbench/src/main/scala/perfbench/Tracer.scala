package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Traced-run instrumentation, from outside the library only: spans around
 * the harness's own calls (run, pass, op, construct, exec) plus Spark's
 * public listener events (job, stage, task, executed-plan SQL metrics,
 * streaming progress). Spans stay in memory and are written when the run
 * ends. Per-op counters are returned by [[endOp]]; the listener bus is
 * drained there, so every event of an op is attributed before the next op
 * starts.
 */
final class Tracer(spark: SparkSession) {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private final class Span(val id: Int, val parent: Int, val name: String,
      val start: Double, var end: Double, val op: String)

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private def open(parent: Int, name: String, start: Double, op: String): Span =
    spans.synchronized {
      nextId += 1
      val s = new Span(nextId, parent, name, start, Double.NaN, op)
      spans += s
      s
    }

  /** Counters of the op in flight; touched by the listener thread. */
  private final class Acc {
    val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val batchMs = mutable.ArrayBuffer[Double]()
    def add(k: String, v: Double): Unit = synchronized { c(k) = c(k) + v }
    def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
  }

  @volatile private var acc = new Acc
  @volatile private var opName: String = null
  private var runSpan: Span = _
  private var passSpan: Span = _
  private var opSpan: Span = _
  @volatile private var constructSpan: Span = _
  @volatile private var execSpan: Span = _
  private val jobSpans = mutable.Map[Int, Span]()
  private val stageParent = mutable.Map[Int, Int]()
  private val MB = 1048576.0

  def beginRun(): Unit = runSpan = open(0, "run", nowMs, null)
  def endRun(): Unit = runSpan.end = nowMs
  def beginPass(name: String): Unit = passSpan = open(runSpan.id, "pass", nowMs, name)
  def endPass(): Unit = passSpan.end = nowMs

  def beginOp(name: String): Unit = {
    acc = new Acc
    opName = name
    opSpan = open(passSpan.id, "op", nowMs, name)
  }

  def phase(p: String): Unit = {
    val t = nowMs
    if (p == "construct") constructSpan = open(opSpan.id, "construct", t, opName)
    else {
      if (constructSpan != null && constructSpan.end.isNaN) constructSpan.end = t
      execSpan = open(opSpan.id, "exec", t, opName)
    }
  }

  /** Closes the op's spans, waits for its listener events and returns its counters. */
  def endOp(): Map[String, Any] = {
    val t = nowMs
    Seq(constructSpan, execSpan).foreach(s => if (s != null && s.end.isNaN) s.end = t)
    opSpan.end = t
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val a = acc
    constructSpan = null
    execSpan = null
    opName = null
    a.synchronized(a.c.toMap) ++ Map("streaming.batch_ms" -> a.batchMs.toList)
  }

  private def parentFor(phase: String): Int = {
    val s = if (phase == "construct") constructSpan else execSpan
    if (s != null) s.id else if (opSpan != null) opSpan.id else 0
  }

  private object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).map(_.getProperty("perfbench.phase")).orNull
      acc.add("jobs", 1)
      if (phase == "construct") acc.add("construct_jobs", 1)
      val s = open(parentFor(phase), "job", e.time.toDouble, opName)
      jobSpans.synchronized {
        jobSpans(e.jobId) = s
        e.stageIds.foreach(id => stageParent(id) = s.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.synchronized(jobSpans.remove(e.jobId)).foreach(_.end = e.time.toDouble)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      acc.add("stages", 1)
      val parent = jobSpans.synchronized(stageParent.getOrElse(info.stageId, 0))
      val s = open(parent, "stage", info.submissionTime.getOrElse(0L).toDouble, opName)
      s.end = info.completionTime.getOrElse(0L).toDouble
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      acc.add("tasks", 1)
      acc.add("task_run_s", m.executorRunTime / 1e3)
      acc.add("task_cpu_s", m.executorCpuTime / 1e9)
      acc.add("gc_s", m.jvmGCTime / 1e3)
      acc.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      acc.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      acc.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      acc.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      acc.add("scan_mb", m.inputMetrics.bytesRead / MB)
      acc.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Sums the executed plan's SQL timing metrics into plan.* layers. */
  private object PlanMetrics extends QueryExecutionListener {
    private def seconds(p: SparkPlan, metric: String): Double =
      p.metrics.get(metric).map { m =>
        m.metricType match {
          case "nsTiming" => m.value / 1e9
          case "timing" => m.value / 1e3
          case _ => 0.0
        }
      }.getOrElse(0.0)

    private def walk(p: SparkPlan): Unit = {
      p match {
        case _: ReusedExchangeExec => return
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      val n = p.nodeName
      if (n.contains("Scan")) acc.add("plan.scan_s", seconds(p, "scanTime"))
      if (n.contains("Aggregate")) acc.add("plan.agg_s", seconds(p, "aggTime"))
      if (n == "Sort") acc.add("plan.sort_s", seconds(p, "sortTime"))
      if (n.contains("Exchange"))
        acc.add("plan.exchange_s", seconds(p, "shuffleWriteTime") + seconds(p, "fetchWaitTime") +
          seconds(p, "collectTime") + seconds(p, "buildTime") + seconds(p, "broadcastTime"))
      if (n.contains("Join")) {
        acc.add("plan.join_build_s", seconds(p, "buildTime"))
        acc.max("plan.join_rows_max", p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0))
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scala.util.Try(walk(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object StreamEvents extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trigger = ms("triggerExecution")
      val a = acc
      a.batchMs.synchronized(a.batchMs += trigger)
      a.add("streaming.batches", 1)
      a.add("streaming.planning_s", ms("queryPlanning") / 1e3)
      a.add("streaming.wal_commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
      a.add("streaming.add_batch_s", ms("addBatch") / 1e3)
      val start = scala.util.Try(java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble)
        .getOrElse(nowMs - trigger)
      val parent = if (opSpan != null) opSpan.id else 0
      open(parent, "batch", start, opName).end = start + trigger
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(SparkEvents)
    spark.listenerManager.register(PlanMetrics)
    spark.streams.addListener(StreamEvents)
  }

  def uninstall(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(SparkEvents)
    spark.listenerManager.unregister(PlanMetrics)
    spark.streams.removeListener(StreamEvents)
  }

  def writeSpans(f: File): Unit = {
    val rows = spans.synchronized(spans.toList).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> (if (s.end.isNaN) s.start else s.end), "op" -> s.op)
    }
    java.nio.file.Files.writeString(f.toPath, Json.write(rows))
  }
}
