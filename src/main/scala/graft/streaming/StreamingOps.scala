package graft.streaming

import graft.hll.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the stream (the `events` table's streaming shape). */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp)

/** Running per-user session summary maintained by [[StreamingOps.sessionSummaries]]. */
case class SessionSummary(
    user_id: Long,
    first_ts: java.sql.Timestamp,
    last_ts: java.sql.Timestamp,
    n_events: Long)

/** One LSH bucket arrival on the document stream (a (band, bucket, id)
 * coordinate row — the same payload-free shape the batch banding shuffles). */
case class BucketArrival(band: Int, bucket: Long, id: Long)

/** Per-(band, bucket) membership state for [[StreamingOps.lshCandidateStream]]:
 * ids seen so far, plus the overflow latch once the cap trips. */
case class BucketMembers(ids: Array[Long], overflowed: Boolean)

/** Unverified near-dup candidate pair emitted by the streaming LSH index
 * (normalized id_a < id_b; verify with [[graft.dedup.Dedup.verifyJaccardCandidates]]). */
case class CandidatePair(id_a: Long, id_b: Long)

/** One CDC change on a stream, ordered per key by (seq_us, seq_id) —
 * the streaming shape of [[graft.operators.Cdc.applyChangeset]]'s
 * changeset rows. */
case class CdcChange(k: Long, seq_us: Long, seq_id: Long, op: String,
    acct_cents: Long, segment: String)

/** Latest-known state per key maintained by [[StreamingOps.cdcCurrentState]];
 * `deleted=true` means the latest change retired the key (downstream
 * materializations filter it, auditors keep the tombstone). */
case class CdcState(k: Long, seq_us: Long, seq_id: Long, deleted: Boolean,
    acct_cents: Long, segment: String)

/** One ingested document on a stream, keyed by content fingerprint — the
 * input shape of [[StreamingOps.keepFirstByFingerprint]]. */
case class IngestDoc(doc_id: Long, fp: String)

/** Per-fingerprint dedup state and (identically-shaped) emission of
 * [[StreamingOps.keepFirstByFingerprint]]: the kept doc is the SMALLEST
 * id seen so far for the fingerprint, `n_dups` the arrivals so far. */
case class IngestKept(fp: String, doc_id: Long, n_dups: Long)

/**
 * Structured Streaming surface. The reference library has no streaming code
 * (SURVEY.md §2.4), but its core data structure is the part of it that IS
 * streaming-native: an HLL sketch is mergeable state, so per-window sketches
 * computed incrementally can be unioned later across windows, streams, and
 * batch tables with the same `hll_merge` used everywhere else.
 *
 * Scale contract: streaming aggregation state per (window, group) is one
 * sketch (~2^p registers), independent of event volume; the watermark bounds
 * how many windows stay open, so state size is |open windows| × |groups| ×
 * sketch bytes. The same TypedImperativeAggregate drives batch and
 * streaming — no separate code path.
 */
object StreamingOps {

  /**
   * Watermarked tumbling-window distinct-user sketches.
   *
   * Emits one row per closed window: (window_start, window_end, users_hll,
   * n_events). The sketch column is a first-class output, not just an
   * estimate — downstream consumers re-aggregate it with `hll_merge`
   * (e.g. daily windows → monthly uniques) without touching raw events.
   */
  def windowedUserSketches(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours", relativeSD: Double = 0.02,
      tsCol: String = "ts", userCol: String = "user_id"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"))
      .agg(
        hll_init_agg(col(userCol), relativeSD).as("users_hll"),
        count(lit(1)).as("n_events"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("users_hll"),
        col("n_events"))

  /** [[windowedUserSketches]] plus the estimate, for sinks that want a
   * human-readable column next to the mergeable sketch. */
  def windowedUserCounts(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours", relativeSD: Double = 0.02): DataFrame =
    windowedUserSketches(events, windowLength, watermark, relativeSD)
      .withColumn("distinct_users", hll_cardinality(col("users_hll")))

  /**
   * Watermarked tumbling-window heavy-hitter sketches — "which grams/
   * domains are flooding the stream this hour?". Same state contract as
   * [[windowedUserSketches]]: one bounded counter map (≤ maxMapSize
   * entries) per open window regardless of stream volume, and the emitted
   * sketch column re-aggregates across windows/streams/batch with
   * `freq_merge` — trending-gram detection over a day of hourly windows
   * without re-reading events.
   */
  def windowedHeavyHitters(items: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours", maxMapSize: Int = graft.freq.FreqDefaults.MaxMapSize,
      tsCol: String = "ts", itemCol: String = "item"): DataFrame = {
    import graft.freq.functions._
    items
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"))
      .agg(
        freq_init_agg(col(itemCol), maxMapSize).as("items_freq"),
        count(lit(1)).as("n_items"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("items_freq"),
        col("n_items"))
  }

  /**
   * Watermarked tumbling-window quantile sketches — per-window value
   * percentiles (the latency-dashboard primitive). Bounded state like the
   * other windowed sketches (one KLL sketch per open window, ~3 KB at
   * k=200), and the emitted sketch column re-aggregates: hourly sketches
   * roll into daily percentiles with `kll_merge`, never re-reading events.
   */
  def windowedQuantileSketches(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours", k: Int = graft.kll.KllDefaults.K,
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    import graft.kll.functions._
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"))
      .agg(
        kll_init_agg(col(valueCol), k).as("values_kll"),
        count(lit(1)).as("n_values"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("values_kll"),
        col("n_values"))
  }

  /**
   * Per-user running session summaries via `mapGroupsWithState` — the
   * custom-state path for semantics windows can't express. State per key is
   * one [[SessionSummary]]; each micro-batch emits the updated summary for
   * every key it touched (update output mode).
   *
   * Retention: per-user state is evicted once the EVENT-TIME watermark
   * passes `idleTimeout` beyond the user's latest event (the final summary
   * is emitted once more as the state retires). Without eviction the state
   * store grows with the lifetime-distinct user count — unbounded on a
   * long-running stream, which breaks this file's bounded-state contract.
   *
   * Event-time (not processing-time) timeout on purpose: a pending
   * processing-time timeout makes the micro-batch engine schedule batch
   * after empty batch to poll the wall clock — with the default
   * zero-interval trigger that is a BUSY SPIN burning a core on an idle
   * stream. Event-time timeouts only fire when new data advances the
   * watermark, so an idle stream schedules nothing; retention is also
   * replay-deterministic, because eviction depends on the data, not on
   * how fast the cluster happened to process it. The price: `watermark`
   * bounds how out-of-order an event may arrive and still join its
   * session — later than that and it starts a fresh summary (or is
   * dropped late, per watermark semantics).
   */
  def sessionSummaries(spark: SparkSession, events: Dataset[UserEvent],
      idleTimeout: String = "30 minutes", watermark: String = "2 hours"): Dataset[SessionSummary] = {
    import spark.implicits._
    // Parsed ONCE here; the closure below runs per group per micro-batch
    // on executors and must only capture the resulting long.
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(idleTimeout))
    val idleMs =
      iv.months * 2592000000L + iv.days * 86400000L + iv.microseconds / 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionSummary, SessionSummary](GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            var summary = state.getOption.getOrElse(
              SessionSummary(userId, null, null, 0L))
            batch.foreach { e =>
              val first =
                if (summary.first_ts == null || e.ts.before(summary.first_ts)) e.ts
                else summary.first_ts
              val last =
                if (summary.last_ts == null || e.ts.after(summary.last_ts)) e.ts
                else summary.last_ts
              summary = SessionSummary(userId, first, last, summary.n_events + 1)
            }
            state.update(summary)
            // Evict when the watermark passes last_ts + idleTimeout. The
            // watermark can already be past that point for a late-arriving
            // group — setTimeoutTimestamp rejects timestamps at or before
            // the watermark, so clamp just above it (the state then retires
            // on the next watermark advance).
            val target = summary.last_ts.getTime + idleMs
            val floor = state.getCurrentWatermarkMs() + 1L
            state.setTimeoutTimestamp(math.max(target, floor))
            summary
          }
      }
  }

  /**
   * Streaming exact dedup for document ingest: drop any document whose
   * normalized-content fingerprint was already seen within the watermark
   * horizon. State is one (fingerprint, timestamp) entry per distinct
   * document inside the horizon — `dropDuplicatesWithinWatermark` lets the
   * state store evict entries older than the watermark, so state is
   * bounded by the duplicate-arrival window, not the stream's lifetime
   * (plain `dropDuplicates` state grows forever).
   */
  def dedupDocStream(docs: DataFrame, watermark: String = "1 hour",
      tsCol: String = "ts", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", graft.text.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /**
   * STREAMING CDC (SCD-1): maintain the latest-known state per key from a
   * stream of change rows — the continuous form of
   * [[graft.operators.Cdc.applyChangeset]]. State per key is one
   * [[CdcState]]; each micro-batch emits the updated state for every key
   * it touched (update output mode), including delete tombstones
   * (`deleted=true`), so a downstream materialization can upsert/evict.
   *
   * Out-of-order safe: a change only replaces state when its
   * `(seq_us, seq_id)` is strictly newer, so late-arriving stale changes
   * never regress the view — replay-deterministic regardless of batching.
   *
   * State bound: one row per distinct key — for dimension-table CDC the
   * key universe IS the dimension size, which is the correct (and
   * minimal) bound for a current-state view; no timeout, because a key's
   * current state stays valid until changed. Streams whose keys retire
   * (session-scoped entities) should layer an event-time timeout like
   * [[sessionSummaries]] does.
   */
  def cdcCurrentState(spark: SparkSession,
      changes: Dataset[CdcChange]): Dataset[CdcState] = {
    import spark.implicits._
    changes.groupByKey(_.k)
      .mapGroupsWithState[CdcState, CdcState](GroupStateTimeout.NoTimeout) {
        (k: Long, batch: Iterator[CdcChange], state: GroupState[CdcState]) =>
          var cur = state.getOption.orNull
          batch.foreach { c =>
            val newer = cur == null || c.seq_us > cur.seq_us ||
              (c.seq_us == cur.seq_us && c.seq_id > cur.seq_id)
            if (newer)
              cur = CdcState(k, c.seq_us, c.seq_id, c.op == "D",
                c.acct_cents, c.segment)
          }
          state.update(cur)
          cur
      }
  }

  /**
   * Start a streaming query with the state-partition count sized to the
   * workload instead of the session's (CPU-sized) shuffle default.
   *
   * `spark.sql.shuffle.partitions` is captured at query START and fixes
   * the number of state-store instances for the query's lifetime; every
   * stateful operator then pays per-partition store open/commit/snapshot
   * I/O EVERY micro-batch, whether or not the partition holds state.
   * A stream-stream join materializes four stores per partition, so a
   * CPU-count default (32 here) means ~128 store commits per batch —
   * measured 6.3 s → 3.0 s on the sf0.1 interval join by sizing down to
   * 8. At cluster scale the same knob goes UP with state volume; the
   * point is that it is a property of the stream's state, not of the
   * machine, and it must wrap `.start()` (the conf is restored right
   * after, so surrounding batch plans are untouched).
   */
  def withStatePartitions[T](spark: SparkSession, parts: Int)(start: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try { spark.conf.set(key, parts.toString); start }
    finally spark.conf.set(key, saved)
  }

  /**
   * State-partition count DERIVED from the stream's input volume — the
   * scale-adaptive form of the [[withStatePartitions]] sizing rule
   * (optimization guide §2: partitioning must derive from the data, not
   * from the machine or a constant).
   *
   * Every state-store partition costs open/commit/snapshot I/O per
   * micro-batch on EVERY stateful operator (×4 stores for a stream-stream
   * join), whether or not it holds state, so the count should track the
   * state volume. The honest pre-run proxy for state volume is the bytes
   * of the source being streamed: one partition per `bytesPerPartition`
   * (64 MB — a comfortable HDFS/RocksDB store size), floor 8, cap 2048
   * (past that, per-batch store-commit fan-out dominates again; a
   * deployment with >128 GB of live state shards the QUERY, not just the
   * store). The floor is MEASURED, not machine-derived: 32 → 8 halved the
   * sf0.1 stream-stream join (store-commit bound), while dropping
   * further to 2 REGRESSED q147's RocksDB initial-state load 2.9 → 6.9 s
   * (the whole drain is one addBatch, and two state partitions serialize
   * a compute-bound snapshot apply) — 8 is where the
   * two failure modes cross at the harness's fixed per-query floor. At
   * the harness scale factors this derives the floor; past ~512 MB of
   * input it grows; at 100 TB it caps — same code, no retune.
   * Results are partition-count-invariant for every operator in this
   * file: aggregations/joins are set-semantics, the custom-state
   * operators emit per-key values that the declared queries reduce with
   * key-level aggregation before comparison.
   */
  def statePartitionsFor(spark: SparkSession, dir: String, table: String,
      bytesPerPartition: Long = 64L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      try fs.getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(t) =>
        // A listing failure on a VALID dir (permissions, a transient FS
        // error) must not silently mis-size state stores at scale —
        // surface the degradation, then fall back to the floor.
        System.err.println(
          s"WARN statePartitionsFor: could not size $p ($t); " +
            s"falling back to the floor of $StatePartitionFloor state partitions")
        0L
      }
    val derived = math.ceil(bytes.toDouble / bytesPerPartition).toInt
    math.max(StatePartitionFloor, math.min(derived, 2048))
  }

  /** Fewest state partitions [[statePartitionsFor]] ever returns. */
  private final val StatePartitionFloor = 8

  /**
   * Streaming keep-first exact dedup with duplicate accounting: one state
   * row per content fingerprint holding (smallest doc id so far, arrivals
   * so far); every touched fingerprint re-emits its current state per
   * micro-batch (update mode). Unlike [[dedupDocStream]]'s
   * `dropDuplicatesWithinWatermark` — which keeps whichever duplicate
   * ARRIVES first, a race across partitions — the min-id rule is
   * deterministic and replay-stable, so the continuously-maintained view
   * equals the batch `groupBy(fp).agg(min(doc_id), count)` at every
   * drain point. That batch-parity is what makes a streaming ingest
   * pipeline auditable: the oracle recomputes the same view from the
   * files alone.
   *
   * State bound: one (fp, long, long) row per DISTINCT document content —
   * the dedup table itself, the minimal state any exact keep-first dedup
   * must hold. No timeout by default: content identity does not expire.
   * Retention-windowed deployments layer an event-time timeout exactly as
   * [[sessionSummaries]] does.
   */
  def keepFirstByFingerprint(spark: SparkSession,
      docs: Dataset[IngestDoc]): Dataset[IngestKept] = {
    import spark.implicits._
    docs.groupByKey(_.fp)
      .mapGroupsWithState[IngestKept, IngestKept](GroupStateTimeout.NoTimeout) {
        (fp: String, batch: Iterator[IngestDoc], state: GroupState[IngestKept]) =>
          var keep = state.getOption.map(_.doc_id).getOrElse(Long.MaxValue)
          var n = state.getOption.map(_.n_dups).getOrElse(0L)
          batch.foreach { d =>
            n += 1
            if (d.doc_id < keep) keep = d.doc_id
          }
          val cur = IngestKept(fp, keep, n)
          state.update(cur)
          cur
      }
  }

  /**
   * Watermarked STREAM-STREAM interval join: pair each left event with
   * every right event on the same key whose event time falls in
   * `[leftTs, leftTs + within]` — signup→purchase attribution,
   * impression→click, error→retry, all running continuously.
   *
   * This is the streaming counterpart of [[graft.operators.RangeJoin]]:
   * the same time-range predicate, but neither side is a table — both are
   * unbounded streams, so each side must buffer rows in the state store
   * until the OTHER side can no longer produce a match. That is exactly
   * what the watermark + time-range condition give the engine to reason
   * with: a left row is evictable once the right watermark passes
   * `leftTs + within`, a right row once the left watermark passes
   * `rightTs`. State per side is therefore bounded by
   * (watermark delay + join horizon) × arrival rate — a sliding horizon of
   * recent events, independent of stream lifetime. Without the range
   * condition Spark would (correctly) refuse to plan the inner join
   * without keeping both sides forever.
   *
   * Inner-join emission is immediate on match — no output latency from the
   * watermark; the watermark only gates state EVICTION (and, per watermark
   * semantics, drops input later than the delay).
   *
   * The two event-time columns must have distinct names: the joined row
   * carries both, and the range condition must reference each side's
   * column unambiguously for the state-cleanup analysis to recognize it.
   * The key column keeps ONE copy (left's) in the output.
   */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String,
      watermark: String = "2 hours", joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs,
      s"event-time columns must have distinct names, both are '$leftTs'")
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be inner or left_outer, got '$joinType'")
    val rKey = key + "__r"
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, rKey).withWatermark(rightTs, watermark)
    // left_outer: matches emit immediately (the inner rows, verbatim); an
    // unmatched left row null-pads only when the watermark passes the end
    // of its match window (leftTs + within) and its state retires — rows
    // whose window is still open are withheld, exactly the q73 append-mode
    // contract transplanted to join state.
    l.join(r,
        col(key) === col(rKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL '$within'"),
        joinType)
      .drop(rKey)
  }

  /**
   * Streaming MinHash-LSH near-dup CANDIDATES: the continuously-maintained
   * form of the batch LSH index ([[graft.dedup.Dedup.jaccardNearDupPairs]]'s
   * candidate stage). Each arriving document computes its banded signature
   * statelessly (the same kernels as batch — one shingle pass, k-value
   * signature, (band, bucket, id) coordinates only); state per (band,
   * bucket) is the member id list, and each new member emits one candidate
   * pair per existing member. Emitted pairs are UNVERIFIED — run
   * [[graft.dedup.Dedup.verifyJaccardCandidates]] over the accumulated
   * pairs against a document store for the exact-Jaccard verdict, exactly
   * as the batch path does (q102 gates that composition value-for-value
   * against q14's definitional oracle).
   *
   * State contract: bucket membership IS the production LSH index —
   * `bands × n_docs` coordinate entries, the same size the batch banding
   * materializes per run, kept instead of recomputed. Hot buckets latch an
   * `overflowed` flag at `maxBucketSize` and stop emitting (a template-spam
   * bucket would otherwise emit quadratic pairs into the sink); unlike the
   * batch cap, pairs emitted BEFORE the latch cannot be retracted — prefix
   * semantics, the honest streaming analogue of the batch skip. Buckets
   * never time out here: near-dup identity does not expire. Bounding state
   * to an ingest horizon (drop buckets idle past a watermark) is the
   * eviction policy a bounded-horizon deployment would add, per
   * [[dedupDocStream]]'s pattern.
   */
  def lshCandidateStream(docs: DataFrame, k: Int = 128, rows: Int = 4,
      shingleWidth: Int = 5, maxBucketSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.dedup.Dedup.lshBanded(docs, k, rows, shingleWidth, idCol, textCol)
      .select(col("band").cast("int").as("band"), col("bucket"), col("id"))
      .as[BucketArrival]
      .groupByKey(a => (a.band, a.bucket))
      .flatMapGroupsWithState[BucketMembers, CandidatePair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), arrivals: Iterator[BucketArrival], state: GroupState[BucketMembers]) =>
          val prev = state.getOption.getOrElse(BucketMembers(Array.empty, overflowed = false))
          if (prev.overflowed) {
            Iterator.empty
          } else {
            val seen = prev.ids.toSet
            // Deterministic pair SET regardless of micro-batch slicing:
            // sort fresh arrivals, pair each against everything already
            // indexed plus earlier fresh ids, normalize to id_a < id_b.
            val fresh = arrivals.map(_.id).filterNot(seen).toArray.distinct.sorted
            val all = prev.ids ++ fresh
            if (all.length > maxBucketSize) {
              state.update(BucketMembers(prev.ids, overflowed = true))
              Iterator.empty
            } else {
              state.update(BucketMembers(all, overflowed = false))
              val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
              var i = 0
              while (i < fresh.length) {
                val n = fresh(i)
                prev.ids.foreach { o =>
                  if (o != n) out += CandidatePair(math.min(o, n), math.max(o, n))
                }
                var j = 0
                while (j < i) { out += CandidatePair(fresh(j), n); j += 1 }
                i += 1
              }
              out.iterator
            }
          }
      }
  }

  /** Update-mode memory-sink runner for tests/demos: starts the query
   * (with [[withStatePartitions]]-sized state stores), processes
   * everything currently available, and returns the sink table name to
   * read with `spark.table(name)`. */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode,
      statePartitions: Int = 8): String = {
    val q = withStatePartitions(df.sparkSession, statePartitions)(
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .start())
    q.processAllAvailable()
    q.stop()
    name
  }

  /** Stream-to-LAKE sink: lands an append-mode stream as hive-partitioned
   * parquet via `foreachBatch` with per-partition DYNAMIC overwrite — the
   * production recipe for maintaining a queryable lake table from a
   * stream.
   *
   * Why not the built-in file sink: it is append-only with its own
   * `_spark_metadata` log, so a replayed micro-batch after a sink-side
   * failure duplicates rows and the table is only correct when read
   * through that log. Dynamic partition overwrite makes each batch write
   * IDEMPOTENT at the partition grain instead: replaying batch N
   * re-writes the same partitions with the same rows, and readers need no
   * metadata log — the directory IS the table (partition pruning
   * included). The contract is that `partitionCol` is stable for a given
   * output row (true for event-time window/day columns under append mode,
   * where a window is emitted exactly once, when the watermark closes
   * it).
   *
   * The stable-partition contract is ENFORCED, not just documented: a
   * partition-value ledger next to the checkpoint records which batch
   * last wrote each partition value, and a later batch touching an
   * already-written value fails the stream BEFORE the overwrite would
   * silently delete the earlier batch's rows (the failure mode of any
   * non-windowed append stream, or late rows under a day-grain
   * partitionCol). A REPLAYED batch (same batchId after a sink-side
   * failure) passes — that is the idempotent case the dynamic overwrite
   * exists for. Set `enforceStablePartitions = false` only for flows
   * that deliberately re-emit a partition's FULL contents every time.
   *
   * Returns the configured writer; the caller picks the trigger and
   * starts it (AvailableNow for drain-once, ProcessingTime for
   * continuous).
   */
  def partitionedParquetSink(df: DataFrame, path: String,
      partitionCol: String, checkpoint: String,
      enforceStablePartitions: Boolean = true): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ledgerDir = s"$checkpoint/_graft_partition_ledger"
        if (enforceStablePartitions) {
          val touched = batch.select(partitionCol).distinct()
            .collect().map(r => String.valueOf(r.get(0)))
          val ledger = readLedger(batch.sparkSession, ledgerDir)
          val violations = touched.filter(v => ledger.get(v).exists(_ < batchId))
          if (violations.nonEmpty)
            throw new IllegalStateException(
              s"partitionedParquetSink: batch $batchId writes partition value(s) " +
                s"${violations.mkString(", ")} already written by earlier batch(es) " +
                s"${violations.map(v => ledger(v)).distinct.sorted.mkString(", ")} — " +
                "dynamic overwrite would silently drop those batches' rows. This sink " +
                "requires a stable partition column (each value emitted by exactly one " +
                "batch, e.g. a watermark-closed event-time window); aggregate upstream " +
                "or pass enforceStablePartitions = false for deliberate full-partition " +
                "re-emission.")
          batch.write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .parquet(path)
          writeLedgerEntry(batch.sparkSession, ledgerDir, batchId, touched)
        } else {
          batch.write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .parquet(path)
        }
      }

  /** partition value → last batchId that wrote it, folded from the
   * batch-versioned ledger DIRECTORY: each committed batch appends its own
   * immutable `<batchId>.tsv` (one partition value per line), so no write
   * ever rewrites or deletes prior entries and a crash mid-write can lose
   * AT MOST the in-flight batch's file — never the accumulated ledger
   * (the failure mode of the previous delete-then-rename single file,
   * which silently reverted the guard to unprotected dynamic overwrite).
   * Tiny either way: one line per partition value ever written, one file
   * per batch that wrote any; lives next to the checkpoint so its
   * lifecycle matches the stream's exactly-once bookkeeping.
   *
   * MIGRATION: a checkpoint written by the pre-directory sink kept one
   * `_graft_partition_ledger.tsv` file (lines `value<TAB>batchId`) where
   * the directory now stands. Ignoring it would silently reset the
   * stable-partition guard for an upgraded-in-place stream — the exact
   * failure the directory format exists to prevent — so it is folded in
   * as the BASE map (batch-versioned files override its values). Files in
   * the directory whose basename is not a parseable batch id (stray
   * editor/tool droppings) are skipped: every file this sink writes is
   * `<digits>.tsv`, so skipping foreign names can never lose an entry. */
  private def readLedger(spark: SparkSession, dir: String): Map[String, Long] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slurp(p: org.apache.hadoop.fs.Path): String = {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
    val legacyFile = new org.apache.hadoop.fs.Path(dir + ".tsv")
    val legacy: Map[String, Long] =
      if (!fs.exists(legacyFile)) Map.empty
      else slurp(legacyFile).linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf('\t')
        require(i > 0, s"malformed legacy ledger line in $legacyFile: '$line'")
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toMap
    if (!fs.exists(d)) legacy
    else {
      val batchFile = """(\d+)\.tsv""".r
      val entries = fs.listStatus(d).toSeq
        .flatMap(st => st.getPath.getName match {
          case batchFile(id) => Some(id.toLong -> st.getPath)
          case _ => None
        })
        .sortBy(_._1) // fold in batch order: later batch wins a value
      entries.foldLeft(legacy) { case (acc, (batchId, p)) =>
        acc ++ slurp(p).linesIterator.filter(_.nonEmpty).map(_ -> batchId)
      }
    }
  }

  /** One immutable file per batch, written through a temp + rename so a
   * partially-written entry is never visible under its final name. A
   * REPLAYED batch rewrites its own file with the same content —
   * idempotent like the data write it records. */
  private def writeLedgerEntry(spark: SparkSession, dir: String,
      batchId: Long, touched: Seq[String]): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    val p = new org.apache.hadoop.fs.Path(d, s"$batchId.tsv")
    val tmp = new org.apache.hadoop.fs.Path(d, s".$batchId.tsv.tmp")
    val out = fs.create(tmp, true)
    try out.write(touched.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Overwriting rename where the FS supports it; the fallback delete
    // only ever targets THIS batch's own file (a replay), so a crash
    // between the two ops cannot lose any other batch's entry.
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      fs.rename(tmp, p)
    }
  }
}
