package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Behavioral sessionization: one ordered trajectory row per (user,
 * session-window) — the assembly step that turns an event log into
 * training examples (clickstreams, conversations) and that every
 * journey-shaped query projects from.
 *
 * Scale contract: one shuffle by user (Spark's native `session_window`
 * merges gaps locally per group); the collected structs carry (ts-micros,
 * event-id, event-type) coordinates only, so a session's buffer is
 * session-sized and the shuffle never carries payloads. Ordering is total
 * — (us, eid) with a unique eid — so every projection of the array
 * (sequence strings, journey initials, n-th event) is deterministic and
 * engine-reproducible.
 */
object Sessions {

  /**
   * The assembled session table: `(user_id, session_start_us, evs)` with
   * `evs: array<struct<us: long, eid: long, et: string>>` sorted by
   * (us, eid). Lazy — nothing runs until the caller's action.
   */
  def assembled(events: DataFrame, gap: String = "2 hours",
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("sw"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col(tsCol)).as("us"), col(idCol).as("eid"),
        col(typeCol).as("et")))).as("evs"))
      .select(col(userCol),
        unix_micros(col("sw.start")).as("session_start_us"),
        col("evs"))

  /** The per-session event types joined with `sep` — q145's sequence
   * column, as a pure projection over [[assembled]]'s array. */
  def sequenceString(evs: Column, sep: String = ">"): Column =
    array_join(transform(evs, e => e.getField("et")), sep)

  /** The per-session event-type INITIALS as one compact string — the
   * journey alphabet regex patterns match over (q160). A projection of
   * the same assembled array as [[sequenceString]]. */
  def journeyString(evs: Column): Column =
    concat_ws("", transform(evs, e => substring(e.getField("et"), 1, 1)))
}
