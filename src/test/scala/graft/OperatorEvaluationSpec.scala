package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operators hold no results across calls: an input rewritten in place at
 * an unchanged path is read afresh by the next call, and the lazy
 * operators start no Spark job until the caller's action. */
class OperatorEvaluationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-operator-evaluation-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val near = "the quick brown fox jumps over the lazy dog near the river bank"
  private val other = "completely different content about parquet shuffles and spark plans"

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  // Near-dup pair (1, 2) before the rewrite, (1, 3) after it.
  private def docsBefore = docs(1L -> near, 2L -> (near + " again"), 3L -> other)
  private def docsAfter = docs(1L -> near, 2L -> other, 3L -> (near + " again"))

  private def events(shiftMinutes: Long): DataFrame = {
    import spark.implicits._
    Seq((1L, 0L, "view", 1L), (1L, 10L, "click", 2L), (2L, 5L, "view", 3L))
      .toDF("user_id", "m", "event_type", "event_id")
      .select(col("user_id"),
        timestamp_micros((col("m") + shiftMinutes) * 60000000L).as("ts"),
        col("event_type"), col("event_id"))
  }

  private def vectors(scale: Float): DataFrame = {
    import spark.implicits._
    (0L until 32L)
      .map(i => i -> Array.tabulate(4)(d => ((i + d) % 5).toFloat * scale + d))
      .toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Writes `before` to a path, runs `op` on a read of it, rewrites the SAME
   * path in place with `after`, and runs `op` on a fresh read: each result
   * must equal `op` over the in-memory data it was read from. */
  private def assertFreshAfterRewrite[T](before: DataFrame, after: DataFrame)(
      op: DataFrame => T): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    val path = s"$dir/input"
    try {
      before.write.parquet(path)
      val first = op(spark.read.parquet(path))
      assert(first === op(before))
      after.write.mode("overwrite").parquet(path)
      val second = op(spark.read.parquet(path))
      assert(second === op(after), "a call after the rewrite served the old input")
      assert(second !== first, "fixture must change the operator's result")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("jaccardNearDupPairs reads an input rewritten in place afresh") {
    assertFreshAfterRewrite(docsBefore, docsAfter) { d =>
      rows(dedup.Dedup.jaccardNearDupPairs(d, 1, 2, k = 16, rows = 2,
        shingleWidth = 3).select("id_a", "id_b"))
    }
  }

  test("connectedComponents reads a pair graph rewritten in place afresh") {
    import spark.implicits._
    assertFreshAfterRewrite(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"),
      Seq((4L, 5L), (1L, 3L)).toDF("id_a", "id_b")) { p =>
      rows(dedup.Dedup.connectedComponents(p))
    }
  }

  test("ngramJaccardPairs reads an input rewritten in place afresh") {
    assertFreshAfterRewrite(docsBefore, docsAfter) { d =>
      rows(dedup.Dedup.ngramJaccardPairs(d, 1, 2, n = 2))
    }
  }

  test("Sessions.assembled reads an event log rewritten in place afresh") {
    assertFreshAfterRewrite(events(0L), events(600L)) { ev =>
      rows(operators.Sessions.assembled(ev).select("user_id", "session_start_us"))
    }
  }

  test("kmeansCentroidValues reads a corpus rewritten in place afresh") {
    assertFreshAfterRewrite(vectors(1f), vectors(10f)) { c =>
      similarity.Similarity.kmeansCentroidValues(c, k = 2, iters = 2)
    }
  }

  test("jaccardNearDupPairs, Sessions.assembled and ngramJaccardPairs start no job at call time") {
    val group = "graft-call-time"
    val marker = "graft-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // Inputs no other test uses, so no earlier call can have seen them.
    val d = docs(21L -> other, 22L -> (other + " too"), 23L -> near)
    val ev = events(77L)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "operator calls")
      val built = Seq(
        dedup.Dedup.jaccardNearDupPairs(d, 1, 2, k = 16, rows = 2, shingleWidth = 3),
        operators.Sessions.assembled(ev),
        dedup.Dedup.ngramJaccardPairs(d, 1, 2, n = 2))
      // The listener bus delivers in order: once the marker job arrives,
      // every job the calls above started has been seen.
      spark.sparkContext.setJobGroup(marker, "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "marker job never reached the listener")
      assert(seen.toArray.count(_ == group) === 0,
        "an operator ran a Spark job before any action")
      assert(built.forall(_.collect().nonEmpty))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
