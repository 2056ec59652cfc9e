package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sessions-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (user, minute-offset, type, id) fixture: user 1 has two sessions
   * (gap > 2h between minute 10 and minute 200), user 2 one session with
   * a same-timestamp tie broken by event id. */
  private def events(): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 0L, "signup", 10L),
      (1L, 10L, "view", 11L),
      (1L, 200L, "purchase", 12L),
      (2L, 5L, "view", 20L),
      (2L, 5L, "click", 19L),
      (2L, 6L, "purchase", 21L))
      .toDF("user_id", "m", "event_type", "event_id")
      .select(col("user_id"),
        timestamp_micros(col("m") * 60L * 1000000L).as("ts"),
        col("event_type"), col("event_id"))
  }

  test("assembled: sessions split on the gap, events totally ordered by (ts, id)") {
    val out = Sessions.assembled(events())
      .orderBy("user_id", "session_start_us").collect()
    assert(out.length === 3)
    val u1s1 = out(0)
    assert(u1s1.getLong(0) === 1L)
    assert(u1s1.getSeq[org.apache.spark.sql.Row](2).map(_.getString(2))
      === Seq("signup", "view"))
    val u1s2 = out(1)
    assert(u1s2.getSeq[org.apache.spark.sql.Row](2).map(_.getString(2))
      === Seq("purchase"))
    // Tie at the same timestamp orders by event id: 19 (click) before 20.
    val u2 = out(2)
    assert(u2.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(1))
      === Seq(19L, 20L, 21L))
  }

  test("sequenceString/journeyString: projections of one assembled array") {
    val out = Sessions.assembled(events())
      .select(col("user_id"),
        Sessions.sequenceString(col("evs")).as("seq"),
        Sessions.journeyString(col("evs")).as("j"))
      .orderBy("user_id", "seq").collect()
    val byUser = out.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(byUser.contains((1L, "signup>view", "sv")))
    assert(byUser.contains((2L, "click>view>purchase", "cvp")))
  }
}
