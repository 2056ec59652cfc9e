package graft.queries

import graft.hll.functions._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Harness queries for the sketch operators and the built-in relational
 * surface (SURVEY.md §2.1 + §2.4), each paired with an ANSI-SQL oracle in
 * [[CoreQueries.oracles]] runnable by DuckDB over the same parquet tables.
 *
 * Oracle-parity rules used throughout:
 *  - HLL estimates are compared against COUNT(DISTINCT ...) only where the
 *    estimate is provably exact: distinct counts of at most a few dozen per
 *    group with precision chosen so register collisions are (verified)
 *    absent at the correctness scale (SURVEY.md §7.4 R3).
 *  - Money arithmetic is done in INTEGER units (cents / basis points /
 *    micro-dollars as BIGINT): `floor(x*100 + 0.5)` on an IEEE double is
 *    bit-deterministic in every engine, and long addition is associative,
 *    so results are identical regardless of partitioning or aggregation
 *    order. Double sums are NOT reproducible across engines, and DECIMAL
 *    cells normalize differently across hashers — neither ever appears in
 *    a compared column.
 *  - Compared columns are keys, longs, dates, or strings; raw doubles are
 *    only passed through unmodified (no arithmetic on them).
 *
 * Scale notes are on each query: what the plan does at 100 TB, which side
 * broadcasts, where the shuffle is and what bounds it.
 */
object CoreQueries {

  // Precision used when an HLL estimate must be EXACT against the oracle at
  // verify scale: relativeSD=0.005 → p=16 → 65536 registers; collision odds
  // for n<=12 distinct per group are ~n²/2m < 0.2% and verified zero on the
  // actual data (deterministic hash, fixed data).
  private val ExactSD = 0.005

  /** Month-of-shipdate sketch per (returnflag, linestatus) — the stored
   * "sketch table" that re-aggregation queries build on. At scale this is
   * the pattern: persist small per-cell sketches, never rescan raw data. */
  private def monthSketches(spark: SparkSession, dir: String, sd: Double = ExactSD): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), month(col("l_shipdate")).as("ship_month"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_init_agg(col("ship_month"), sd).as("months_hll"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------------------------ HLL
    // hll_init: per-row sketch; cardinality of a 1-value sketch is 1.
    // Scale: pure map-side, no shuffle; sketches stream straight to the sink.
    // Per-row sketches use the DS format: DataSketches stays in exact coupon
    // (sparse) mode at tiny cardinalities, so each row carries ~40 bytes
    // instead of the 48 KiB a dense p=16 STRM sketch serializes to — the
    // dense format is for merge-heavy rollup tables, not row-grain output.
    "hll_init_scalar" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          hll_cardinality(hll_init(col("lang"), ExactSD, "DS"), "DS").as("card"))
        .orderBy("doc_id")
    }),

    // hll_init_collection: per-row sketch over array members (DS format for
    // the same row-grain reason as hll_init_scalar).
    "hll_init_collection_scalar" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          hll_cardinality(
            hll_init_collection(array(col("lang"), col("source")), ExactSD, "DS"), "DS")
            .as("card"))
        .orderBy("doc_id")
    }),

    // hll_init_agg: one sketch per group. Scale: ObjectHashAggregate partial
    // phase collapses each task's rows to one 64 KiB sketch per group before
    // the exchange — shuffle bytes are |groups|×sketch, independent of rows.
    "hll_agg_months" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(hll_cardinality(hll_init_agg(month(col("l_shipdate")), ExactSD)).as("months"))
        .orderBy("l_returnflag")
    }),

    // hll_init_collection_agg over a constructed array column.
    "hll_collection_agg_priorities" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(hll_cardinality(
          hll_init_collection_agg(array(col("o_orderpriority")), ExactSD)).as("priorities"))
        .orderBy("o_orderstatus")
    }),

    // hll_merge: re-aggregation — fine-grained sketches roll up to a coarser
    // grouping without touching raw data. THE operator that makes sketch
    // tables useful at 100 TB: the rollup input is |cells| rows, not rows.
    "hll_merge_rollup" -> ((s, dir) => {
      monthSketches(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(hll_cardinality(hll_merge(col("months_hll"))).as("months"))
        .orderBy("l_returnflag")
    }),

    // hll_row_merge: union sketches across columns of one row. Months hash as
    // ints, line statuses as strings — domains are disjoint under the typed
    // hash, so the union cardinality is the sum of the parts.
    "hll_row_merge_union" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          hll_init_agg(month(col("l_shipdate")), ExactSD).as("m_hll"),
          hll_init_agg(col("l_linestatus"), ExactSD).as("s_hll"))
        .select(col("l_returnflag"),
          hll_cardinality(hll_row_merge(col("m_hll"), col("s_hll"))).as("combined"))
        .orderBy("l_returnflag")
    }),

    // hll_intersect_cardinality via inclusion-exclusion on two filtered
    // sketches built in a single scan (conditional aggregation).
    "hll_intersect_linenumbers" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          hll_init_agg(when(col("l_quantity") < 25, col("l_linenumber")), ExactSD).as("lo"),
          hll_init_agg(when(col("l_quantity") >= 25, col("l_linenumber")), ExactSD).as("hi"))
        .select(hll_intersect_cardinality(col("lo"), col("hi")).as("common"))
    }),

    // The reference's flagship capability in its production shape: the
    // N×N audience-overlap matrix. One scan builds one sketch per
    // cohort; the matrix is a self-join of KILOBYTES (sketch bytes),
    // never of users — at 100 TB the cost is one scan + N² intersects
    // on the driver-sized sketch table, which is exactly why HLL
    // intersection exists. ExactSD keeps estimates exact at verify
    // scale so the oracle states inclusion-exclusion definitionally.
    "q131_audience_overlap" -> ((s, dir) => {
      val perType = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(hll_init_agg(col("user_id"), ExactSD).as("h"))
      perType.select(col("event_type").as("type_a"), col("h").as("ha"))
        .join(perType.select(col("event_type").as("type_b"), col("h").as("hb")),
          col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          hll_cardinality(col("ha")).as("users_a"),
          hll_cardinality(col("hb")).as("users_b"),
          hll_intersect_cardinality(col("ha"), col("hb")).as("overlap"))
        .orderBy("type_a", "type_b")
    }),

    // Distribution drift, day over day: total-variation distance between
    // consecutive days' event-value histograms, in e6 integer units via
    // cross-multiplication (|ca·Nb − cb·Na| summed, then one integer
    // division) — no float ratio ever crosses the engine boundary. The
    // distributional sibling of q115's volume drift: volume can hold
    // steady while the value distribution silently shifts. Histograms
    // shuffle as (day, bucket) counts only. At petabyte daily volumes
    // pre-divide the counts (or widen to decimal): ca·Nb must stay
    // under 2^63.
    "q132_histogram_drift" -> ((s, dir) => {
      val hist = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), floor(col("value")).cast("long").as("bkt"))
        .groupBy("day", "bkt").agg(count(lit(1)).as("c"))
      val totals = hist.groupBy("day").agg(sum("c").as("n"))
      val a = hist.select(col("day"), col("bkt"), col("c").as("ca"))
      val b = hist.select(date_sub(col("day"), 1).as("day"), col("bkt"), col("c").as("cb"))
      a.join(b, Seq("day", "bkt"), "full")
        .na.fill(0L, Seq("ca", "cb"))
        .join(totals.select(col("day"), col("n").as("na")), "day")
        .join(totals.select(date_sub(col("day"), 1).as("day"), col("n").as("nb")), "day")
        .groupBy("day")
        .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("num"),
          first(col("na")).as("na"), first(col("nb")).as("nb"))
        .select(col("day"), expr("num * 1000000 div (2 * na * nb)").as("tvd_e6"),
          col("na").as("n_day"), col("nb").as("n_next"))
        .orderBy("day")
    }),

    // Calendar gap filling: the (day × type) scaffold with explicit zero
    // rows for silent days — the prerequisite for honest day-over-day
    // drift (a MISSING day otherwise silently shifts every lag window to
    // compare non-adjacent days). The spine is generated from the data's
    // own bounds (sequence + explode — rows are never collected), and the
    // scaffold sides are |days| and |types| rows: both broadcastable at
    // any corpus scale, with the fact join left-keyed on the scaffold.
    "q149_gap_filled_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"),
        col("event_type")).agg(count(lit(1)).as("n"))
      val spine = ev.agg(to_date(min(col("ts"))).as("lo"),
          to_date(max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      spine.crossJoin(broadcast(types))
        .join(daily, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day", "event_type")
    }),

    // Kolmogorov–Smirnov drift, day over day: the sup-norm CDF gap between
    // consecutive days' event-value distributions — q132's TVD sibling for
    // SHIFT detection (TVD reads mass moved anywhere; KS reads ordered
    // displacement, the right alarm when values creep upward). Exact and
    // all-integer by cross-multiplication: running cumulative counts per
    // cent bucket, max |cuma·nb − cumb·na|, one e6 division at the end.
    // Cumulative sums AND the day totals ride the SAME per-day window
    // partition over (day, cents) coordinate rows — na/nb are unbounded-
    // frame sums over the full-joined histogram (sum(ca) = day-d total,
    // sum(cb) = day-d+1 total: the full join carries every cent bucket of
    // either day), so the histogram is derived once where the former
    // totals-table formulation re-derived it through two extra joins
    // (round-12 sweep: 4 histogram passes → 1; q143 1.09 → 0.6 s solo).
    // The na>0 && nb>0 filter replicates those inner joins exactly: a day
    // without a successor (or a cb-only day without its own events) drops,
    // as it did when the totals row was absent. Same 2^63 headroom note
    // as q132 at petabyte day volumes.
    "q143_ks_drift" -> ((s, dir) => {
      val hist = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 100d + 0.5d).cast("long").as("cents"))
        .groupBy("day", "cents").agg(count(lit(1)).as("c"))
      val a = hist.select(col("day"), col("cents"), col("c").as("ca"))
      val b = hist.select(date_sub(col("day"), 1).as("day"), col("cents"), col("c").as("cb"))
      val w = Window.partitionBy("day").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      a.join(b, Seq("day", "cents"), "full")
        .na.fill(0L, Seq("ca", "cb"))
        .select(col("day"), col("cents"),
          sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"),
          sum("ca").over(whole).as("na"), sum("cb").over(whole).as("nb"))
        .filter(col("na") > 0 && col("nb") > 0)
        .groupBy("day")
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("num"),
          first(col("na")).as("na"), first(col("nb")).as("nb"))
        .select(col("day"), expr("num * 1000000 div (na * nb)").as("ks_e6"),
          col("na").as("n_day"), col("nb").as("n_next"))
        .orderBy("day")
    }),

    // hll_convert: STRM sketch bytes transcoded to the GRAFT format and
    // estimated there — no recomputation from raw data.
    "hll_convert_graft" -> ((s, dir) => {
      monthSketches(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(hll_merge(col("months_hll")).as("merged"))
        .select(col("l_returnflag"),
          hll_cardinality(hll_convert(col("merged"), "STRM", "GRAFT"), "GRAFT").as("months"))
        .orderBy("l_returnflag")
    }),

    // The external-readability proof for the GRAFT wire format, register by
    // register: per-priority sketches are built in STRM from PRE-HASHED
    // values (md5_hash64 — reproducible in any engine with md5()),
    // transcoded to GRAFT by hll_convert, and decoded back to their dense
    // register array. The oracle recomputes every register from the raw
    // rows in PURE DuckDB SQL — same md5-derived hash, same top-8-bit
    // index, same leading-zero rank — so a single differing register byte
    // anywhere in hash, ingest, serialization, transcoding, or decoding
    // fails the compare. Output is (group, idx, reg) integers only.
    "hll_graft_registers" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        // relativeSD=0.07 → p=8 → 256 registers per group: big enough to be
        // a real sketch, small enough that the compared output stays tiny.
        .agg(hll_init_hashed_agg(
          graft.operators.Sampling.md5Hash64(col("o_custkey").cast("string")),
          0.07, "STRM").as("sk"))
        .select(col("o_orderpriority"),
          posexplode(hll_registers(hll_convert(col("sk"), "STRM", "GRAFT")))
            .as(Seq("idx", "reg")))
        .orderBy("o_orderpriority", "idx")
    }),

    // Same pipeline end-to-end on the DataSketches format (exact at these
    // counts: the sketch is still in exact coupon mode).
    "hll_ds_format" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(hll_cardinality(hll_init_agg(dayofmonth(col("ts")), ExactSD, "DS"), "DS").as("days"))
        .orderBy("event_type")
    }),

    // ------------------------------------------------------- built-in surface
    // Pricing summary (TPC-H Q1 shape). Money is compared in INTEGER units
    // (cents / micro-dollars as BIGINT): the raw columns are IEEE doubles, so
    // `floor(x*100 + 0.5)` produces the same long from the same bits in
    // every engine, and long addition is associative — no decimal widening
    // or rounding-mode divergence can enter the compared schema. Scale:
    // partial aggregation before the 6-group exchange; scan prunes to 7 of
    // 11 columns, and the per-row arithmetic is pure codegen'd long math.
    "q1_pricing_summary" -> ((s, dir) => {
      val qtyCents = floor(col("l_quantity") * 100d + 0.5d).cast("long")
      val priceCents = floor(col("l_extendedprice") * 100d + 0.5d).cast("long")
      val discBp = floor(col("l_discount") * 10000d + 0.5d).cast("long")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qtyCents).as("sum_qty_cents"),
          sum(priceCents).as("sum_base_price_cents"),
          // cents × (1 - discount in basis points) = micro-dollars; exact
          // integer product per row, summed as BIGINT (sf0.1 total ≈ 6e16,
          // well inside Long range).
          sum(priceCents * (lit(10000L) - discBp)).as("sum_disc_price_micros"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Join pyramid: orders ⋈ customer ⋈ nation, revenue by nation.
    // Scale: nation (25 rows) and customer (dimension) broadcast — the fact
    // table never shuffles for the join, only for the 25-group aggregate.
    "q2_revenue_by_nation" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val customer = Tables.customer(s, dir)
      val nation = Tables.nation(s, dir)
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // Anti join: customers with no high-value order, by segment.
    // Scale: the filter shrinks the build side before the anti-join;
    // broadcast it if it fits, else shuffled hash anti-join — no row
    // explosion either way.
    "q3_customers_without_orders" -> ((s, dir) => {
      val customer = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      customer
        .join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Window function: top-3 orders per order-priority by price (keys only;
    // o_orderkey breaks ties deterministically).
    // Scale: one shuffle on the partition key; rank early-outs per group.
    "q4_top_orders_per_priority" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"))
        .orderBy("o_orderpriority", "rk")
    }),

    // Global top-k: order by + limit. Scale: per-partition top-k then a
    // single-reducer merge of k-row heaps (TakeOrderedAndProject).
    // q4's semantics through the AGGREGATE top-k instead of the window:
    // topk_structs forwards at most k structs per (task, group) into the
    // exchange (pinned in TopKSpec) where q4's row_number shuffles and
    // sorts every row of every group — the form that survives a 100×
    // scale-up. Ranking encoded in the struct (price negated, orderkey
    // tie-break), so sort_array is the exact deterministic order.
    "q133_topk_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("price_e2"),
          col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sort_array(graft.operators.TopK.topKStructs(
          struct((-col("price_e2")).as("np"), col("o_orderkey").as("okey")), 3)).as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rank"),
          col("t.okey").as("o_orderkey"), (-col("t.np")).as("price_e2"))
        .orderBy("o_orderpriority", "rank")
    }),

    "q5_top10_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"))
    }),

    // Rollup (grouping sets): subtotals + grand total in one pass. Money in
    // integer cents (see q1) so the compared schema carries no DECIMAL.
    "q6_rollup_quantities" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(floor(col("l_quantity") * 100d + 0.5d).cast("long")).as("sum_qty_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Set operation: users active on day 1 but silent on day 2
    // (EXCEPT = distinct set difference).
    "q7_churned_users" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val d1 = events.filter(to_date(col("ts")) === lit("2024-01-01")).select(col("user_id"))
      val d2 = events.filter(to_date(col("ts")) === lit("2024-01-02")).select(col("user_id"))
      d1.except(d2).orderBy("user_id")
    }),

    // Scan shape: filter + narrow projection — both must reach the parquet
    // reader (PushedFilters / 3-column ReadSchema), which is what keeps a
    // 100 TB scan from reading 100 TB.
    "q8_filtered_scan" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 49)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Z-order layout audit: orders mapped onto a 16-bit (order-date,
    // total-price) grid, rows assigned to 64 "files" by the top Z-value
    // bits — exactly how a range-partitioned write splits the sorted
    // curve — and per-file min/max spans of BOTH dimensions reported.
    // Tight spans on both axes are the property that makes parquet
    // min/max file skipping work for predicates on EITHER column; the
    // domains are fixed TPC-H constants so the oracle re-derives the
    // identical cells and bit-interleaving in DuckDB.
    "q101_zorder_audit" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val qx = graft.sources.Layout.quantize16(
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long"),
        0L, 2500L)
      val qy = graft.sources.Layout.quantize16(
        floor(col("o_totalprice")).cast("long"), 0L, 600000L)
      graft.sources.Layout.zorderAudit(o, qx, qy, bucketBits = 3)
        .orderBy("file_id")
    }),

    // q101's audit along the HILBERT curve — same quantizers, same
    // top-bits file split, so the two span reports are directly
    // comparable (Hilbert files cover tighter blobs: no Morton diagonal
    // jumps). The oracle re-walks the 16 rotate/reflect levels as
    // generated CTEs, one per curve order, in lockstep with the kernel.
    "q128_hilbert_audit" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val qx = graft.sources.Layout.quantize16(
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long"),
        0L, 2500L)
      val qy = graft.sources.Layout.quantize16(
        floor(col("o_totalprice")).cast("long"), 0L, 600000L)
      graft.sources.Layout.hilbertAudit(o, qx, qy, bucketBits = 3)
        .orderBy("file_id")
    }),

    // Event-time tumbling window over the stream table (same windowing that
    // runs under Structured Streaming; here exercised in batch).
    // Values compared at 1e-4 resolution as BIGINT (see q1 for the
    // IEEE-deterministic integer-unit rule).
    "q9_daily_event_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 10000d + 0.5d).cast("long")).as("total_value_e4"))
        .orderBy("day", "event_type")
    }),

    // STREAM/BATCH PARITY, oracle-checked: the q9 daily aggregation run
    // through the STREAMING engine — file source, event-time window
    // aggregation, complete output mode, one AvailableNow pass — must
    // produce exactly what DuckDB computes over the same parquet in batch.
    // This is the Structured Streaming surface entering the same
    // value-for-value correctness gate as every batch operator (specs
    // cover state/watermark behavior; this covers the numbers). At scale
    // the same query tails a growing directory incrementally.
    "q67_streaming_daily_counts" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q67_mem")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q67_mem").orderBy("day", "event_type")
    }),

    // STREAM-STATIC JOIN, oracle-checked: the remaining Structured
    // Streaming join category (q89 covers stream-stream, q67/q73 pure
    // aggregation). A static dimension enriches the stream STATELESSLY —
    // every micro-batch hash-joins against the broadcast customer dim; no
    // watermark and no join state, which is what makes dimension
    // enrichment free on an unbounded stream at scale (the only state is
    // the downstream windowed agg, and the dim re-resolves per batch so
    // slow dimension churn is picked up without restarts). One
    // AvailableNow pass in complete mode ≡ the batch join+agg, which
    // DuckDB re-derives value-for-value.
    "q123_stream_static_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val dim = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = Tables.eventsStream(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 10000d + 0.5d).cast("long")).as("total_value_e4"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q123_mem")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q123_mem").orderBy("day", "segment")
    }),

    // WATERMARK + APPEND MODE, oracle-checked: the production streaming
    // output mode (complete mode re-emits every window each batch and
    // holds ALL windows in state forever; append emits each window once,
    // when the watermark closes it, and evicts its state — the only mode
    // whose state is bounded by |open windows| on an unbounded stream).
    // With a 36-hour watermark over the finite events file, the final
    // watermark is max(ts) − 36h, so exactly the day-windows ending at or
    // before it are emitted — a set DuckDB re-derives in batch SQL from
    // the same parquet, INCLUDING which trailing windows are withheld.
    // The 36h delay is deliberately not a multiple of the day width: the
    // watermark never lands exactly on a window boundary, so the emitted
    // set is boundary-comparison-proof at any scale factor.
    "q73_streaming_append_windows" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q73_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q73_mem").orderBy("day", "event_type")
    }),

    // APPEND MODE + SKETCH STATE together: the heavy-hitter sketch
    // aggregation buffer must round-trip the state store across
    // micro-batches AND survive append-mode window eviction — q68 proves
    // sketch state in complete mode, q73 proves append/watermark with a
    // plain count; this proves the combination. maxMapSize 64 >> the
    // 5-type universe, so the sketch is EXACT and the oracle is the same
    // closed-window counts q73 re-derives.
    "q80_streaming_heavyhitter_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.freq.functions._
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(freq_init_agg(col("event_type"), 64).as("f"))
        .select(col("w.start").cast("date").as("day"), col("f"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q80_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q80_mem")
        .select(col("day"), explode(freq_items(col("f"), 1L)).as("hh"))
        .select(col("day"), col("hh.item").as("event_type"), col("hh.cnt").as("n"))
        .orderBy("day", "event_type")
    }),

    // The KLL family through the same append-mode state path: per closed
    // window, the sketch's n and its 0.0/1.0 quantiles — which KLL tracks
    // EXACTLY (DataSketches keeps min/max items outside the compactors),
    // so the oracle is plain per-day count/min/max. Order statistics do
    // no arithmetic, so the doubles compare bit-for-bit across engines.
    "q81_streaming_quantile_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.kll.functions._
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(kll_init_agg(col("value")).as("sk"))
        .select(col("w.start").cast("date").as("day"), col("sk"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q81_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q81_mem").select(col("day"),
          kll_n(col("sk")).as("n_values"),
          kll_quantile(col("sk"), 0.0).as("min_value"),
          kll_quantile(col("sk"), 1.0).as("max_value"))
        .orderBy("day")
    }),

    // HLL completes the append-mode sketch matrix (freq = q80, KLL = q81):
    // the same distinct-type estimate q68 proves in complete mode, now
    // with watermark-driven state EVICTION — only closed windows emit,
    // and each emitted sketch buffer must have round-tripped the state
    // store. p=8 is exact for the 5-type universe (see q62).
    "q82_streaming_hll_append" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_init_agg(col("event_type"), 0.069).as("h"))
        .select(col("w.start").cast("date").as("day"), col("h"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q82_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q82_mem")
        .select(col("day"), hll_cardinality(col("h")).as("n_types"))
        .orderBy("day")
    }),

    // q82 through the RocksDB state store provider: identical query and
    // oracle, but every sketch aggregation buffer round-trips RocksDB's
    // native key-value files instead of the default HDFS-backed in-memory
    // map. This is the state backend a 100-TB deployment actually runs
    // (state larger than executor heap, incremental checkpoint), so the
    // suite proves the sketch state's serialization contract holds on
    // both providers. Conf is captured at query START, so it is set just
    // around .start() and restored after the stream drains.
    "q116_streaming_hll_rocksdb" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_init_agg(col("event_type"), 0.069).as("h"))
        .select(col("w.start").cast("date").as("day"), col("h"))
      val key = "spark.sql.streaming.stateStore.providerClass"
      val saved = s.conf.getOption(key)
      val q =
        try {
          s.conf.set(key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          graft.streaming.StreamingOps.withStatePartitions(s,
              graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
            agg.writeStream.format("memory").queryName("q116_mem")
              .outputMode("append").trigger(Trigger.AvailableNow()).start())
        } finally saved match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      q.awaitTermination()
      s.table("q116_mem")
        .select(col("day"), hll_cardinality(col("h")).as("n_types"))
        .orderBy("day")
    }),

    // q94's session-summary semantics on the transformWithState API
    // (typed named state + first-class event-time timers on RocksDB — the
    // arbitrary-state operator new deployments write). Same final-summary
    // argmax, same oracle as q94: migrating custom state between the two
    // APIs must not change a single value.
    "q135_tws_session_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val summaries = graft.streaming.TransformWithStateOps.sessionSummariesTws(s, ev)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
          summaries.toDF().writeStream.format("memory").queryName("q135_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q135_mem")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"),
          unix_micros(col("first_ts")).as("f"),
          unix_micros(col("last_ts")).as("l"))).as("m"))
        .select(col("user_id"), col("m.f").as("first_us"),
          col("m.l").as("last_us"), col("m.n_events").as("n_events"))
        .orderBy("user_id")
    }),

    // transformWithState's MapState primitive: exact per-user distinct-type
    // accounting with O(1) state I/O per arriving type (one map entry per
    // distinct type, not a re-serialized collection). Both counters grow
    // monotonically, so the per-user argmax equals the batch GROUP BY.
    "q141_tws_distinct_types" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .as[graft.streaming.TransformWithStateOps.TypedEvent]
      val counts = graft.streaming.TransformWithStateOps.distinctTypesTws(s, ev)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
          counts.toDF().writeStream.format("memory").queryName("q141_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q141_mem")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_types"))).as("m"))
        .select(col("user_id"), col("m.n_types").as("n_types"),
          col("m.n_events").as("n_events"))
        .orderBy("user_id")
    }),

    // Streaming DETERMINISTIC reservoir sample: a uniform k-sample per
    // source over the document stream, maintained with O(k) coordinate
    // state per key (min-ticket formulation — batching-independent, so
    // the continuously-maintained sample equals the batch md5-order
    // ranking, which is the oracle). The ingest-QA stage: "keep ~k
    // inspectable docs per source from the firehose" without storing it.
    "q190_streaming_reservoir" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val docs = Tables.documentsStream(s, dir)
        .select(col("source"), col("doc_id"),
          graft.operators.Sampling.md5Hash64(
            concat(lit("rsv:"), col("doc_id").cast("string"))).as("ticket"))
        .as[graft.streaming.TransformWithStateOps.RsvDoc]
      val rsv = graft.streaming.TransformWithStateOps
        .reservoirSampleTws(s, docs, k = 5)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "documents"))(
          rsv.toDF().writeStream.format("memory").queryName("q190_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q190_mem")
        .groupBy("source")
        .agg(max(struct(col("n_seen"), col("sample"))).as("m"))
        .select(col("source"), col("m.n_seen").as("n_seen"),
          posexplode(col("m.sample")).as(Seq("pos", "d")))
        .select(col("source"), col("n_seen"), (col("pos") + 1).as("rank"),
          col("d.doc_id").as("doc_id"))
    }),

    // Streaming k-anonymity gate: events suppress until their
    // (event_type, value-ventile) cohort reaches k = 8, then the held
    // tail releases and later rows stream through — the delayed-release
    // privacy pattern, state bounded at k-1 rows per suppressed cohort.
    // Release is monotone and once-per-row, so the single-drain result
    // equals the batch rule: rows whose cohort total >= k (29 of the 88
    // cohorts at sf0.01 stay suppressed — the gate actually gates).
    "q199_streaming_kanon_gate" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("event_type"),
          floor(col("value") / 20.0d).cast("int").as("vb"), col("event_id"))
        .as[graft.streaming.TransformWithStateOps.KaRow]
      val gated = graft.streaming.TransformWithStateOps
        .kAnonymityGateTws(s, ev, k = 8)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
          gated.toDF().writeStream.format("memory").queryName("q199_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q199_mem")
        .select(col("event_type"), col("vb"), col("event_id"))
        .orderBy("event_type", "vb", "event_id")
    }),

    // transformWithState's ListState primitive: per-user last-3 events,
    // continuously maintained with at most k entries of state per user.
    // The top-k by (ts, id) is order-insensitive over the arrival union,
    // so the final snapshot equals the batch window ranking.
    "q144_tws_recent_k" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[graft.streaming.TransformWithStateOps.RecentEvent]
      val recents = graft.streaming.TransformWithStateOps.recentKTws(s, ev, k = 3)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
          recents.toDF().writeStream.format("memory").queryName("q144_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q144_mem")
        .groupBy("user_id")
        .agg(max(struct(col("n_seen"), col("recent"))).as("m"))
        .select(col("user_id"), posexplode(col("m.recent")).as(Seq("pos", "e")))
        .select(col("user_id"), (col("pos") + 1).as("rank"),
          col("e.event_id").as("event_id"))
        .orderBy("user_id", "rank")
    }),

    // transformWithState WARM-START: q113's CDC view with two thirds of
    // the changeset pre-applied as a batch snapshot loaded through
    // handleInitialState, and the rest streamed under the same
    // strictly-newer rule. The warm-started view must equal the batch
    // latest-wins over the FULL changeset — state migration onto the new
    // API is invisible in the values.
    "q147_tws_cdc_warmstart" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      def changesOf(df: DataFrame) = df.select(
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("k"),
        // batch orders reads o_orderdate as NTZ; cast is micros-exact
        // under the suite-wide UTC session (same rule as Tables.events)
        unix_micros(col("o_orderdate").cast("timestamp")).as("seq_us"),
        col("o_orderkey").as("seq_id"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("acct_cents"),
        col("o_orderpriority").as("segment"))
      def argmaxState(df: DataFrame) = df
        .select(col("k"), struct(col("seq_us"), col("seq_id"),
          col("deleted"), col("acct_cents"), col("segment")).as("st"))
        .groupBy("k").agg(max(col("st")).as("m"))
        .select(col("k"), col("m.seq_us").as("seq_us"),
          col("m.seq_id").as("seq_id"), col("m.deleted").as("deleted"),
          col("m.acct_cents").as("acct_cents"), col("m.segment").as("segment"))
      val snapshot = argmaxState(
        changesOf(Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0))
          .withColumn("deleted", col("op") === "D"))
        .as[graft.streaming.CdcState]
      val streamed = changesOf(
        Tables.ordersStream(s, dir).filter(col("o_orderkey") % 3 =!= 0))
        .as[graft.streaming.CdcChange]
      val st = graft.streaming.TransformWithStateOps.cdcCurrentStateTws(s, streamed, snapshot)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "orders"))(
          st.toDF().writeStream.format("memory").queryName("q147_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      argmaxState(s.table("q147_mem").unionByName(snapshot.toDF()))
        .orderBy("k")
    }),

    // ABSENCE detection: users silent ≥ 6 hours at the final watermark —
    // the alert only event-time timers can produce (no input row exists
    // to trigger it). Single-batch drain makes the batch restatement
    // exact: last event ≤ max(ts) − 2h (watermark) − 6h (silence).
    "q152_tws_silence_alerts" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val alerts = graft.streaming.TransformWithStateOps.silenceAlertsTws(s, ev)
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(s)(
        graft.streaming.StreamingOps.withStatePartitions(s,
            graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
          alerts.toDF().writeStream.format("memory").queryName("q152_mem")
            .outputMode("update").trigger(Trigger.AvailableNow()).start()))
      q.awaitTermination()
      s.table("q152_mem")
        .select(col("user_id"), unix_micros(col("last_ts")).as("last_us"))
        .orderBy("user_id")
    }),

    // HOPPING (sliding) windows in append mode: 2-day windows advancing
    // by 1 day, so every event belongs to exactly TWO windows — the
    // overlap the tumbling family (q67/q73) never exercises. State holds
    // size/slide = 2 open windows per slide instead of 1; the watermark
    // closes a window when it passes the window's END, so with a 36-hour
    // delay the final emitted set is every 2-day window ending at or
    // before max(ts) − 36h — which the oracle re-derives by fanning each
    // event into its two windows (start = its day and the day before).
    // The 36h delay is again deliberately not a multiple of either the
    // slide or the width, so closure never lands on a boundary.
    "q153_streaming_hopping_windows" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("date").as("win_start"), col("event_type"), col("n"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q153_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q153_mem").orderBy("win_start", "event_type")
    }),

    // HOPPING windows × SKETCH state — the last cell of the streaming
    // matrix (tumbling×{count,freq,kll,hll} and hopping×count are
    // proven): each event's HLL contribution lands in TWO overlapping
    // windows' aggregation buffers, both round-tripping the state store
    // independently, evicted separately as the watermark passes each
    // window's end. p=8 exact on the 5-type universe (q62's operating
    // point), so the oracle is the fan-out + closure + COUNT DISTINCT.
    "q181_streaming_hopping_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .withWatermark("ts", "36 hours")
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
        .agg(hll_cardinality(hll_init_agg(col("event_type"), 0.069)).as("n_types"))
        .select(col("w.start").cast("date").as("win_start"), col("n_types"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q181_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q181_mem").orderBy("win_start")
    }),

    // Rolling-MEDIAN anomaly detection: per (type, day) volume against
    // the lower median of its trailing seven present days — the
    // outlier-robust alarm (a mean-based band is dragged by the very
    // spike it should flag; the median ignores it). All-integer: counts,
    // an element_at pick from a sorted 7-element frame, one e6 ratio.
    // Scale: the window runs over (type, day) COORDINATE rows — at most
    // |types|×|days| — never over events; the frame holds ≤7 longs.
    // Warm-up days (fewer than 4 trailing days) are excluded rather than
    // compared against a 1–3 day "median".
    "q156_rolling_median_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      daily
        .select(col("event_type"), col("day"), col("n"),
          sort_array(collect_list(col("n")).over(w)).as("trail"))
        .filter(size(col("trail")) >= 4)
        .select(col("event_type"), col("day"), col("n"),
          expr("element_at(trail, cast((size(trail) + 1) div 2 as int))").as("med"))
        .select(col("event_type"), col("day"), col("n"), col("med"),
          expr("n * 1000000 div med").as("ratio_e6"))
        .withColumn("alert",
          col("ratio_e6") < 500000L || col("ratio_e6") > 2000000L)
        .orderBy("event_type", "day")
    }),

    // STRICT sequential funnel with bounded step gaps: first signup, then
    // the first view within 7 days AFTER it, then the first purchase
    // within 7 days after THAT view — the order- and deadline-aware
    // conversion q43's unordered first-occurrence triple cannot express
    // (a user who viewed before signing up counts there, not here).
    // Computed as a chain of conditional mins over ONE user partition:
    // the three windows share the partitioning, so the plan pays a single
    // exchange and no self-joins — at 100 TB the classic per-step join
    // formulation shuffles the event log once per step.
    "q157_multistep_funnel" -> ((s, dir) => {
      val wu = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(wu))
        .withColumn("v_ts",
          min(when(col("event_type") === "view" && col("ts") > col("s_ts") &&
            col("ts") <= col("s_ts") + expr("interval 7 days"), col("ts"))).over(wu))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("v_ts") &&
            col("ts") <= col("v_ts") + expr("interval 7 days"), col("ts"))).over(wu))
        .groupBy(col("user_id"))
        .agg(first(col("s_ts")).as("s_ts"), first(col("v_ts")).as("v_ts"),
          first(col("p_ts")).as("p_ts"))
        .agg(count(col("s_ts")).as("n_signup"),
          count(col("v_ts")).as("n_view_7d"),
          count(col("p_ts")).as("n_purchase_7d"))
    }),

    // INCREMENTAL sketch-table maintenance: the materialized per-(user,
    // day) sketch rollup is kept current by aggregating ONLY the new days
    // and hll_merge-ing them with the stored generation — history is
    // never rescanned. Here the two generations (days ≤ 20 / days > 20)
    // are built in one plan for the harness, but the merge path is
    // exactly the production one: same-key sketches from different
    // generations union as rows and collapse with hll_merge, and the
    // result must equal the single-pass answer — which the oracle states
    // as a plain lifetime COUNT DISTINCT. p=8 is exact for the 5-type
    // universe (q62's proven operating point). At 100 TB the stored side
    // is |users|×|days| kilobyte rows and the delta aggregation touches
    // one day of raw events.
    "q158_incremental_hll_rollup" -> ((s, dir) => {
      def gen(pred: org.apache.spark.sql.Column) =
        Tables.events(s, dir).filter(pred)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(hll_init_agg(col("event_type"), 0.069).as("types_hll"))
      val cutoff = to_date(lit("2024-01-20"))
      val stored = gen(to_date(col("ts")) <= cutoff)
      val delta = gen(to_date(col("ts")) > cutoff)
      stored.unionByName(delta)
        .groupBy(col("user_id"))
        .agg(hll_cardinality(hll_merge(col("types_hll"))).as("lifetime_types"),
          count(lit(1)).as("n_day_sketches"))
        .orderBy("user_id")
    }),

    // STREAM-STREAM LEFT OUTER interval join — the other streaming-join
    // semantics class: matches emit like q89, and a signup with NO
    // purchase inside its day window null-pads ONLY once the watermark
    // passes the window's end and its join state retires; signups whose
    // window is still open at end-of-input are withheld. The oracle
    // restates both halves in batch SQL (inner matches + NOT EXISTS
    // under the final-watermark closure rule).
    "q129_streaming_interval_outer" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val signups = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("signup_ts"))
      val purchases = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        signups, purchases, key = "user_id",
        leftTs = "signup_ts", rightTs = "purchase_ts",
        within = "1 day", watermark = "36 hours", joinType = "left_outer")
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        joined.writeStream.format("memory").queryName("q129_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q129_mem")
        .select(col("user_id"), col("signup_id"), col("purchase_id"),
          unix_micros(col("signup_ts")).as("signup_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
        .orderBy("signup_id", "purchase_id")
    }),

    // STREAM-STREAM interval join, oracle-checked: signup→purchase pairs
    // within one day, both sides unbounded streams. The time-range
    // condition + watermarks bound each side's join state to a sliding
    // horizon (see StreamingOps.intervalJoinStreams); the single
    // AvailableNow batch must reproduce the batch join EXACTLY — inner
    // stream-stream joins emit on match, so no window is withheld. This is
    // the streaming counterpart of q48's batch range join entering the
    // same value gate.
    "q89_streaming_interval_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val signups = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("signup_ts"))
      val purchases = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        signups, purchases, key = "user_id",
        leftTs = "signup_ts", rightTs = "purchase_ts",
        within = "1 day", watermark = "36 hours")
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        joined.writeStream.format("memory").queryName("q89_mem")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q89_mem")
        .select(col("user_id"), col("signup_id"), col("purchase_id"),
          unix_micros(col("signup_ts")).as("signup_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
        .orderBy("signup_id", "purchase_id")
    }),

    // CUSTOM STATE (mapGroupsWithState), oracle-checked: per-user running
    // session summaries whose state round-trips the state store between
    // micro-batches and retires via event-time timeout. Update-mode
    // emissions are per-batch snapshots, so the FINAL summary per user —
    // the argmax by n_events, which grows monotonically — is batching-
    // independent and equals the plain batch aggregation DuckDB runs.
    // This puts the arbitrary-stateful-operator path (the one windows
    // can't express) through the same value-for-value gate as the
    // built-in streaming aggregations.
    "q94_streaming_session_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val summaries = graft.streaming.StreamingOps.sessionSummaries(s, ev)
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        summaries.toDF().writeStream.format("memory").queryName("q94_mem")
          .outputMode("update").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q94_mem")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"),
          unix_micros(col("first_ts")).as("f"),
          unix_micros(col("last_ts")).as("l"))).as("m"))
        .select(col("user_id"), col("m.f").as("first_us"),
          col("m.l").as("last_us"), col("m.n_events").as("n_events"))
        .orderBy("user_id")
    }),

    // STREAMING CDC, oracle-checked: q109's changeset replayed through the
    // streaming engine — latest-wins state per key round-trips the state
    // store, tombstones included. Update-mode emissions are per-batch
    // snapshots; the final state per key is the argmax by (seq_us,
    // seq_id), which only moves forward, so the result is
    // batching-independent and equals the batch window DuckDB runs.
    "q113_streaming_cdc_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ch = Tables.ordersStream(s, dir).select(
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("k"),
        unix_micros(col("o_orderdate")).as("seq_us"),
        col("o_orderkey").as("seq_id"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("acct_cents"),
        col("o_orderpriority").as("segment"))
        .as[graft.streaming.CdcChange]
      val st = graft.streaming.StreamingOps.cdcCurrentState(s, ch)
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "orders"))(
        st.toDF().writeStream.format("memory").queryName("q113_mem")
          .outputMode("update").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q113_mem")
        .groupBy("k")
        .agg(max(struct(col("seq_us"), col("seq_id"), col("deleted"),
          col("acct_cents"), col("segment"))).as("m"))
        .select(col("k"), col("m.seq_us").as("seq_us"),
          col("m.seq_id").as("seq_id"), col("m.deleted").as("deleted"),
          col("m.acct_cents").as("acct_cents"), col("m.segment").as("segment"))
        .orderBy("k")
    }),

    // Streaming SKETCH state, oracle-checked: per-day distinct event types
    // via hll_init_agg running INSIDE the streaming engine — the sketch
    // aggregation buffer must round-trip the state store (serialize on
    // commit, deserialize on the next update) and still produce the exact
    // batch answer. p=8 is exact for the 5-type universe (see q62).
    "q68_streaming_sketch_state" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val agg = Tables.eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"))
        .agg(hll_cardinality(hll_init_agg(col("event_type"), 0.069)).as("n_types"))
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "events"))(
        agg.writeStream.format("memory").queryName("q68_mem")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q68_mem").orderBy("day")
    }),

    // Sketches INSIDE a window spec: per-(user, day) event-type sketches,
    // re-aggregated cumulatively with hll_merge over an expanding frame —
    // "how many distinct event types has this user touched as of day d"
    // without ever rescanning history. The window re-merges sub-kilobyte
    // sketches, so the frame cost is |days| × sketch, independent of event
    // volume. Precision: sd=0.069 → p=8 (256 registers) — the window
    // update path touches every register per row, so sketch size IS the
    // window's unit cost (ExactSD's p=16 made this query ~30× slower for
    // nothing). Exactness still holds: the universe is 5 fixed event-type
    // strings whose register assignments are deterministic — they do not
    // collide at p=8 (one global fact, proven by the value-exact oracle
    // and spot-checked against DuckDB at sf0.1 too), so linear counting is
    // exact for every subset. This is §2.4's "aggregates compose with
    // windows" row as an oracle-checked query.
    "q62_window_sketch" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"),
          window(col("ts"), "1 day").getField("start").cast("date").as("day"))
        .agg(hll_init_agg(col("event_type"), 0.069).as("types_hll"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // No trailing orderBy: the result is a full coordinate table whose
      // row order is cosmetic, and the global sort costs a full extra
      // exchange + stage (~0.17 s at sf0.1). The gate compares sorted
      // rows; callers wanting an order sort themselves.
      daily.select(col("user_id"), col("day"),
        hll_cardinality(hll_merge(col("types_hll")).over(w)).as("cum_types"))
    }),

    // SLIDING-window sketch re-merge: distinct event types over each
    // user's trailing 7 ACTIVE days — the bounded-frame sibling of q62's
    // expanding frame, i.e. the rolling-engagement metric ("distinct
    // actions this week") that cumulative windows cannot express because
    // old days must FALL OUT. Same daily-sketch table, same
    // FuseWindowSketchEval seam (the rule is frame-agnostic); the frame
    // re-merges ≤7 sub-kilobyte sketches per row of the |user|×|day|
    // coordinate table. p=8 exact for the 5-type universe (q62's proven
    // operating point).
    "q171_sliding_window_sketch" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(hll_init_agg(col("event_type"), 0.069).as("h"))
      val w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
      // Unordered output — same cosmetic-sort rationale as q62.
      daily.select(col("user_id"), col("day"),
        hll_cardinality(hll_merge(col("h")).over(w)).as("types_7d"))
    }),

    // q62's running cumulative-distinct window on the THETA family — the
    // second sketch family through the window seam, and the second
    // pattern FuseWindowSketchEval rewrites (theta's per-row eval also
    // pays a compact-ordering sort without the fusion). Exact mode (5
    // types << 2^12 nominal entries), so the oracle is value-exact.
    "q150_window_theta" -> ((s, dir) => {
      import graft.theta.functions._
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"),
          window(col("ts"), "1 day").getField("start").cast("date").as("day"))
        .agg(theta_init_agg(col("event_type")).as("types_theta"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("user_id"), col("day"),
        theta_estimate(theta_union(col("types_theta")).over(w)).as("cum_types"))
        .orderBy("user_id", "day")
    }),

    // Funnel analysis: users whose FIRST signup precedes their first click
    // precedes their first purchase. One shuffle to user_id with map-side
    // partial mins (conditional aggregation — no self-joins, no window);
    // timestamps leave as epoch micros so the compare is integer.
    "q43_funnel_signup_purchase" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .filter(col("first_signup") < col("first_click") &&
          col("first_click") < col("first_purchase"))
        .select(col("user_id"),
          unix_micros(col("first_signup")).as("signup_us"),
          unix_micros(col("first_click")).as("click_us"),
          unix_micros(col("first_purchase")).as("purchase_us"))
        .orderBy("user_id")
    }),

    // Event-time sessionization via Spark's native session_window: events
    // of one user merge while gaps stay under 2 hours. The oracle
    // re-derives the same sessions with the classic gaps-and-islands SQL
    // (lag + running break-sum), pinning Spark's merge semantics (a gap of
    // EXACTLY the timeout starts a new session) against an engine-neutral
    // definition. Scale: one shuffle by user; session merging is local to
    // each group, no self-join.
    "q44_session_windows" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }),

    // Sequence assembly: each session's events as ONE ordered trajectory
    // row — the step that turns an event log into training examples
    // (conversations, clickstreams) BEFORE packing bins them. Ordering is
    // total ((ts, event_id) — deterministic under same-ts ties) and the
    // assembly is a per-session sort_array over collected structs: groups
    // are session-sized, so nothing beyond one session ever sits in one
    // buffer, and the shuffle carries (type, ts, id) coordinates only.
    // The assembly itself lives in Sessions.assembled — q145 and q160 are
    // two projections of the same assembled session plan.
    "q145_session_sequences" -> ((s, dir) => {
      graft.operators.Sessions.assembled(Tables.events(s, dir))
        .select(col("user_id"), col("session_start_us"),
          size(col("evs")).cast("long").as("n_events"),
          graft.operators.Sessions.sequenceString(col("evs")).as("sequence"))
        .orderBy("user_id", "session_start_us")
    }),

    // Survival (time-to-event) labels with CENSORING — q178's regression
    // sibling: per signed-up user, microseconds from first signup to
    // first subsequent purchase; users never purchasing after signup are
    // CENSORED at the corpus horizon (duration to max ts, event=false) —
    // dropping them would bias any duration model toward fast
    // converters. Conditional mins in one pass over the user partition's
    // coordinates; the horizon broadcasts.
    "q179_survival_labels" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val horizon = ev.agg(max(unix_micros(col("ts"))).as("h_us"))
      ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup",
          unix_micros(col("ts")))).as("s_us"))
        .filter(col("s_us").isNotNull)
        .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), unix_micros(col("ts")).as("p_us")),
          Seq("user_id"), "left")
        .groupBy(col("user_id"), col("s_us"))
        .agg(min(when(col("p_us") > col("s_us"), col("p_us"))).as("fp_us"))
        .crossJoin(broadcast(horizon))
        .select(col("user_id"), col("s_us").as("signup_us"),
          coalesce(col("fp_us") - col("s_us"), col("h_us") - col("s_us"))
            .as("duration_us"),
          col("fp_us").isNotNull.as("event_observed"))
        .orderBy("user_id")
    }),

    // Session co-visitation counts: how often each PAIR of event types
    // co-occurs inside one behavioral session — the co-occurrence
    // statistic recommendation candidate-generation precomputes. Per
    // session the type set is ≤|types| (25 here), so the ordered pairs
    // expand IN-ROW from the collected set (a nested transform over a
    // ≤25-element array) straight into the final |types|²-bounded
    // aggregation — where the former explode + (user_id, session)
    // self-join formulation shuffled the exploded stream a second time
    // and re-derived the session aggregation per join side (round-12
    // sweep: 1.18 → 0.79 s solo, same rows). Pairs never expand in
    // events; the output is a |types|² table at any corpus scale.
    "q180_covisitation" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("sw"))
        .agg(collect_set(col("event_type")).as("ts_set"))
        .select(explode(flatten(transform(col("ts_set"), a =>
          filter(transform(col("ts_set"), b =>
            when(a < b, struct(a.as("ta"), b.as("tb")))),
            p => p.isNotNull)))).as("p"))
        .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("ta", "tb")
    }),

    // Training-set construction with a TEMPORAL feature/label split:
    // features from the observation window (days before the data-derived
    // cutoff = max day − 7), label = churned iff ZERO activity in the
    // 7-day outcome window after it. The cutoff discipline is the point —
    // every feature column is computed strictly before the label window,
    // so the label can never leak into the features (the q169 temporal
    // join is the enrichment-side twin of this rule). One conditional
    // aggregation pass; users only active in the outcome window are
    // excluded (no observation history to featurize).
    "q178_churn_labels" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = ev.agg(date_sub(to_date(max(col("ts"))), 7).as("cut"))
      ev.crossJoin(broadcast(cutoff))
        .groupBy(col("user_id"))
        .agg(
          sum(when(to_date(col("ts")) <= col("cut"), 1L).otherwise(0L)).as("n_obs"),
          sum(when(to_date(col("ts")) <= col("cut") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases_obs"),
          max(when(to_date(col("ts")) <= col("cut"),
            unix_micros(col("ts")))).as("last_obs_us"),
          sum(when(to_date(col("ts")) > col("cut"), 1L).otherwise(0L)).as("n_out"))
        .filter(col("n_obs") > 0)
        .select(col("user_id"), col("n_obs"), col("n_purchases_obs"),
          col("last_obs_us"), (col("n_out") === 0L).as("churned"))
        .orderBy("user_id")
    }),

    // Behavioral twins: pairs of users whose event-type count profiles
    // are ≥ 0.95 cosine-similar — segment discovery over the DERIVED
    // profile table (|users| rows of 5 bounded integers), not the event
    // log. The similarity test is INTEGER-exact by cross-multiplication:
    // (a·b)²·10000 ≥ 9025·(a·a)(b·b), which avoids the float-boundary
    // ties a cosine threshold invites across engines. The squared terms
    // outgrow BIGINT long before the dot product does (dot²·10⁴ needs
    // dot < ~3·10⁷ to stay under 2^63 — real per-user counts exceed
    // that), so the COMPARISON runs in decimal(38) on the Spark side and
    // HUGEINT in the oracle: identical exact integer arithmetic to
    // dot < ~10^17, far past any real profile. The emitted dot column
    // itself stays BIGINT. The profile table is broadcast for the
    // self-join — at 100 TB the EVENT LOG is huge but |users|×5 ints is
    // dimension-table-sized; a profile table that outgrows broadcast
    // moves to the library's sign-LSH banding instead.
    "q174_behavior_twins" -> ((s, dir) => {
      val profDist = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("click").as("c1"), col("error").as("c2"),
          col("purchase").as("c3"), col("signup").as("c4"), col("view").as("c5"))
      // ONE distributed profile build: the broadcast-self-join used to
      // re-run the whole scan+pivot chain to build its broadcast side (two
      // event-log passes per run). Collecting the |users|×5 profile is
      // bounded by the SAME dimension-table contract that makes it
      // broadcastable at all (see above — profiles that outgrow broadcast
      // move to sign-LSH banding); both join sides then feed from the
      // local table, parallelized without any exchange on the pair side.
      val profRows = profDist.collect()
      val prof = s.createDataFrame(
        s.sparkContext.parallelize(profRows.toIndexedSeq, 32), profDist.schema)
      val a = prof.columns.tail.map(c => prof(c).as(s"a_$c"))
      val b = prof.columns.tail.map(c => prof(c).as(s"b_$c"))
      val left = prof.select(col("user_id").as("ua") +: a: _*)
      val right = prof.select(col("user_id").as("ub") +: b: _*)
      val dims = (1 to 5)
      val dot = dims.map(i => col(s"a_c$i") * col(s"b_c$i")).reduce(_ + _)
      val na = dims.map(i => col(s"a_c$i") * col(s"a_c$i")).reduce(_ + _)
      val nb = dims.map(i => col(s"b_c$i") * col(s"b_c$i")).reduce(_ + _)
      // Long math while provably exact (dot² ·10⁴ and 9025·na·nb both
      // under 2^63), decimal(38) past those bounds — profiles at fixture
      // scale always take the long path, profiles that would wrap take
      // the exact-but-slower one (decimal filter alone measured +1.4 s
      // on the 1.1M-pair self-join at sf0.1).
      val dec = org.apache.spark.sql.types.DecimalType(20, 0)
      val longExact = col("dot") <= 30000000L &&
        col("na") <= 30000000L && col("nb") <= 30000000L
      val cmpLong = col("dot") * col("dot") * 10000L >= lit(9025L) * col("na") * col("nb")
      val cmpDec = col("dot").cast(dec) * col("dot").cast(dec) * 10000L >=
        lit(9025L) * col("na").cast(dec) * col("nb").cast(dec)
      left.join(broadcast(right), col("ua") < col("ub"))
        .select(col("ua"), col("ub"), dot.as("dot"), na.as("na"), nb.as("nb"))
        .filter(when(longExact, cmpLong).otherwise(cmpDec))
        .select(col("ua"), col("ub"), col("dot"))
        .orderBy("ua", "ub")
    }),

    // Right-to-be-forgotten propagation audit: given a deletion cohort,
    // report per table how many rows the scrub must remove and how many
    // would REMAIN after an anti-join scrub (must be 0) — the compliance
    // evidence a lake owner files, produced without materializing any
    // scrubbed copy. The deletion list broadcasts (tiny vs the lake);
    // each fact table pays one map-side probe, counts aggregate
    // partially. 'before' restates the semi-join, 'remnants' the
    // anti-join-then-semi-join composition — by construction scrub
    // completeness, asserted as a value, not a claim.
    "q170_deletion_audit" -> ((s, dir) => {
      val doomed = Tables.events(s, dir)
        .select(col("user_id").as("k")).distinct()
        .filter(col("k") % 97 === 0)
      def audit(name: String, df: DataFrame, key: org.apache.spark.sql.Column) = {
        val keyed = df.select(key.as("k"))
        val hit = keyed.join(broadcast(doomed), Seq("k"), "left_semi")
        val remnant = keyed.join(broadcast(doomed), Seq("k"), "left_anti")
          .join(broadcast(doomed), Seq("k"), "left_semi")
        hit.agg(count(lit(1)).as("to_delete")).crossJoin(
          remnant.agg(count(lit(1)).as("remnants_after_scrub")))
          .select(lit(name).as("table"), col("to_delete"),
            col("remnants_after_scrub"))
      }
      audit("events", Tables.events(s, dir), col("user_id"))
        .unionByName(audit("orders", Tables.orders(s, dir), col("o_custkey")))
        .unionByName(audit("customer", Tables.customer(s, dir), col("c_custkey")))
        .orderBy("table")
    }),

    // n-of-m burst alerting: an error event alerts when it is the 3rd+
    // error among the user's trailing 10 events — the rate-over-count
    // alarm (a plain "3 errors today" threshold fires on slow trickles;
    // n-of-m fires only on DENSITY). One rows-frame window per user over
    // (event, flag) coordinates; the frame holds 10 longs.
    "q167_error_burst" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .withColumn("n_err10", sum(col("is_err")).over(w))
        .filter(col("is_err") === 1L && col("n_err10") >= 3L)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("n_err10"))
        .orderBy("user_id", "event_id")
    }),

    // Per-user MEDIAN inter-arrival gap — the engagement-cadence signal —
    // through the q130 two-phase exact-quantile operator: gaps are lag
    // differences in integer microseconds (one keyed window), and the
    // median is found by histogram locate + target-bucket sliver sort —
    // NO per-user collect, so a 10M-event user costs the same shuffle
    // shape as a 10-event one (the collect_list median q156 uses is fine
    // for 7-element frames, lethal for per-user event histories).
    "q168_interarrival_median" -> ((s, dir) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(ord))
        .filter(col("prev").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("prev"))).as("gap_us"))
      graft.operators.ExactQuantile.exactQuantilesByKey(
        gaps, col("user_id"), col("gap_us"), Seq((1, 2)), shift = 8)
        .select(col("g").as("user_id"), col("k"),
          col("value").as("median_gap_us"))
        .orderBy("user_id")
    }),

    // TTL deduplication (burst collapse with re-admission): repeated
    // (user, type) arrivals within a rolling 2-hour chain collapse to
    // their FIRST event, but the key is re-admitted once it stays quiet
    // past the TTL — the retry-storm/re-crawl admission rule plain
    // keep-first dedup (q12/q118) cannot express, because there the first
    // occurrence suppresses forever. The chain rule IS session semantics,
    // so the operator composes session_window per (user, type) with a
    // min-struct pick — one shuffle, no self-join, state per open chain.
    "q163_ttl_dedup" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"),
          session_window(col("ts"), "2 hours").as("sw"))
        .agg(min(struct(col("ts").as("ts"), col("event_id").as("eid"))).as("first"),
          count(lit(1)).as("n_burst"))
        .select(col("user_id"), col("event_type"),
          col("first.eid").as("kept_event_id"),
          unix_micros(col("first.ts")).as("kept_us"),
          (col("n_burst") - 1).as("n_suppressed"))
        .orderBy("user_id", "event_type", "kept_us")
    }),

    // JOIN-EXPLOSION audit: the exact output cardinality of a prospective
    // join and its top contributing keys, WITHOUT running the join —
    // per-key counts from each side (two aggregations), a counts-only
    // join (|keys| rows), contribution = na·nb. The pre-flight that
    // catches a fan-out join before it materializes 10^13 rows at 100 TB;
    // pairs with q161's single-side skew report. All-integer shares.
    "q164_join_explosion_audit" -> ((s, dir) => {
      val ec = Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("na"))
      val oc = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("nb"))
      val contrib = ec.join(oc, "k")
        .select(col("k"), col("na"), col("nb"), (col("na") * col("nb")).as("pairs"))
      val tot = contrib.agg(sum(col("pairs")).as("total_pairs"))
      contrib.crossJoin(broadcast(tot))
        .select(col("k"), col("na"), col("nb"), col("pairs"),
          col("total_pairs"),
          expr("pairs * 1000000 div total_pairs").as("share_e6"))
        .orderBy(col("pairs").desc, col("k"))
        .limit(5)
    }),

    // LAST-TOUCH attribution: each purchase attributed to the user's
    // latest non-purchase event at or before it, within a 1-day window —
    // the as-of join composition (one shuffle + keyed window, never the
    // left × right-within-range blow-up a time-inequality join plans).
    // The attribution window is enforced AFTER the as-of attach: the
    // attached touch is the latest overall, so if IT is outside the
    // window, no touch is inside (monotonicity) — a null-out, not a
    // re-join. The oracle restates it as a correlated LATERAL top-1.
    "q166_last_touch_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
      val attached = graft.operators.AsOf.joinPrior(
        purchases, touches, Seq("user_id"), "ts", "ts",
        struct(col("ts").as("t_ts"), col("event_id").as("t_id"),
          col("event_type").as("t_type")), "touch")
      attached
        .withColumn("in_window",
          col("asof_touch.t_ts") >= col("ts") - expr("interval 1 day"))
        .select(col("event_id"),
          unix_micros(col("ts")).as("purchase_us"),
          when(col("in_window"), col("asof_touch.t_id")).as("touch_id"),
          when(col("in_window"), col("asof_touch.t_type")).as("touch_type"),
          when(col("in_window"), unix_micros(col("asof_touch.t_ts"))).as("touch_us"))
        .orderBy("event_id")
    }),

    // Trajectory PATTERN matching (MATCH_RECOGNIZE-lite): sessions whose
    // ordered event-type initials contain signup → {view|click}* →
    // purchase — the user-journey mining query, as q145's assembly + one
    // regex over the compact per-session string. The regex runs on
    // session-sized strings AFTER aggregation (|sessions| evals, not
    // |events|), and the pattern subset (literals, classes, star — no
    // backrefs) means Java and RE2 agree symbol for symbol.
    "q160_journey_pattern" -> ((s, dir) => {
      // Reuses q145's session assembly; initials derive from the same
      // ordered array, so the journey string is byte-identical to an
      // inline build.
      graft.operators.Sessions.assembled(Tables.events(s, dir))
        .select(col("user_id"), col("session_start_us"),
          graft.operators.Sessions.journeyString(col("evs")).as("journey"))
        .filter(col("journey").rlike("s[vc]*p"))
        .orderBy("user_id", "session_start_us")
    }),

    // Shuffle-key SKEW report: the 20 heaviest user_ids with their e6
    // share of total volume — the pre-flight diagnostic that decides
    // whether a join/agg needs Salting or AQE skew splits before the job
    // runs at 100 TB. One aggregation to per-key counts, the scalar total
    // broadcast back (no driver round-trip), top-20 via
    // TakeOrderedAndProject — at most 20 rows per task reach the driver.
    "q161_key_skew_report" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val tot = ev.agg(count(lit(1)).as("total"))
      counts.crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"),
          expr("n * 1000000 div total").as("share_e6"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(20)
    }),

    // Skew-safe salted join: lineitem (probe) joins orders (build) with
    // the build side replicated over 8 salts — the plan for a hot join
    // key when the build side is too big to broadcast. The result multiset
    // is provably identical to the plain join (each probe row meets each
    // matching build row exactly once, at its own salt), so the oracle is
    // just the plain SQL join. Money in integer cents.
    "q49_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("price_c"))
      val ords = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Salting.saltedJoin(li, ords, Seq("l_orderkey"), saltBuckets = 8)
        .groupBy("o_orderpriority")
        .agg(sum(col("price_c")).as("revenue_cents"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // Keyless range join: every purchase within 5 minutes after ANY error
    // (ops correlation — no user key to hash on). The banded plan turns
    // the pure range predicate into a hash equi-join on 5-minute time
    // bands (left fans out to 2 bands, right to 1, each pair found exactly
    // once) instead of the BroadcastNestedLoopJoin Spark would pick.
    "q48_range_join_correlation" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts").as("error_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      graft.operators.RangeJoin.joinWithin(errors, purchases,
        leftTs = "error_ts", rightTs = "purchase_ts", windowSeconds = 300L)
        .select(col("error_id"), col("purchase_id"))
        .orderBy("error_id", "purchase_id")
    }),

    // JSON functions: extract a typed field from the semi-structured props
    // column and aggregate it. Scale: get_json_object is codegen'd and
    // per-row; the scan prunes to (event_type, props).
    "q21_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))
        .orderBy("event_type")
    }),

    // Set operation: users active on BOTH days (INTERSECT = distinct set
    // intersection; q7 covers EXCEPT). Scale: both sides pre-aggregate to
    // distinct user ids before the equi-shuffle.
    "q22_retained_users" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val d1 = events.filter(to_date(col("ts")) === lit("2024-01-01")).select(col("user_id"))
      val d2 = events.filter(to_date(col("ts")) === lit("2024-01-02")).select(col("user_id"))
      d1.intersect(d2).orderBy("user_id")
    }),

    // PIVOT: per-day event-type counts as columns. The value list is
    // explicit (the five TESTDATA event types), so the output schema is
    // static — the same contract Spark's pivot needs to avoid a discovery
    // pass, and what makes the oracle's FILTER aggregations line up
    // column-for-column.
    "q105_pivot_daily_events" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day")
    }),

    // CUBE with grouping_id: all four (priority × status) aggregation
    // levels in one pass, each row tagged with which dimensions are
    // aggregated away — the standard OLAP companion to q6's rollup.
    "q106_cube_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("total_cents"),
          grouping_id().cast("long").as("gid"))
        .orderBy("gid", "o_orderpriority", "o_orderstatus")
    }),

    // Cohort retention matrix: users bucketed by first-seen day, distinct
    // actives per (cohort, day-offset) — the classic growth-analytics
    // rollup of q22's two-day retention. Shuffles (user_id, day)
    // coordinates; the cohort join is keyed by user_id on both sides.
    "q107_cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(cohorts, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // KLL quantile sketches: per-type percentile summaries. k=16384 keeps
    // the sketch in exact mode at verify scale (n≈2k per group), where the
    // INCLUSIVE quantile coincides with SQL quantile_disc — same pattern as
    // ExactSD for the HLL oracles. At 100 TB the same query runs at k=200
    // (~1.65/k rank error) with a ~3 KB sketch per group.
    // EXACT per-group quantiles without a global sort — the audit-grade
    // complement of q24/q25's KLL estimates: two-phase histogram prune
    // (bucket counts + cumulative locate, then sort only the target
    // bucket slivers). Rank k = (N-1)*num div den + 1, all-integer, so
    // the oracle restates each answer definitionally via row_number.
    "q130_exact_quantiles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          floor(col("l_quantity") * 100d + 0.5d).cast("long").as("q_e2"))
      graft.operators.ExactQuantile.exactQuantilesByKey(li,
        col("l_returnflag"), col("q_e2"),
        Seq((1, 2), (9, 10), (99, 100)), shift = 8)
        .select(col("g").as("l_returnflag"), col("q_num"), col("q_den"),
          col("k"), col("value"))
        .orderBy("l_returnflag", "q_den", "q_num")
    }),

    // Winsorization — clip values at the group's exact [p10, p90] (from
    // q130's two-phase quantile operator) and report clip counts + the
    // clipped sum. The bounds BROADCAST (one row per group); the data is
    // clipped map-side and aggregated once — nothing reshuffles for the
    // clip itself. The outlier-taming stage before averaging any
    // heavy-tailed metric.
    "q134_winsorize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("g"),
          floor(col("l_quantity") * 100d + 0.5d).cast("long").as("v"))
      val qs = graft.operators.ExactQuantile.exactQuantilesByKey(li,
        col("g"), col("v"), Seq((1, 10), (9, 10)), shift = 8)
      val lo = qs.filter(col("q_num") === 1).select(col("g"), col("value").as("lo"))
      val hi = qs.filter(col("q_num") === 9).select(col("g"), col("value").as("hi"))
      li.join(broadcast(lo), "g").join(broadcast(hi), "g")
        .select(col("g"),
          when(col("v") < col("lo"), col("lo"))
            .when(col("v") > col("hi"), col("hi")).otherwise(col("v")).as("w"),
          (col("v") < col("lo")).as("clo"), (col("v") > col("hi")).as("chi"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(when(col("clo"), 1L).otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("chi"), 1L).otherwise(0L)).as("n_clipped_hi"),
          sum(col("w")).as("sum_winsorized"))
        .select(col("g").as("l_returnflag"), col("n"), col("n_clipped_lo"),
          col("n_clipped_hi"), col("sum_winsorized"))
        .orderBy("l_returnflag")
    }),

    // The remaining sketch EVALUATORS through the gate in one row per
    // type: kll_rank (inclusive fraction ≤ v), kll_pmf (3 inclusive
    // buckets, unpacked to scalar columns — arrays don't hash stably
    // across engines in the compare), freq_estimate (exact: 31-day
    // universe << maxMapSize 64) and freq_stream_length. k=16384 keeps
    // KLL exact at gate scale (q24's operating point), so every fraction
    // is an integer ratio both engines compute with one IEEE division.
    "q176_sketch_eval_matrix" -> ((s, dir) => {
      import graft.kll.functions._
      import graft.freq.functions._
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(kll_init_agg(col("value"), 16384).as("sk"),
          freq_init_agg(dayofmonth(col("ts")).cast("string"), 64).as("f"))
        .select(col("event_type"),
          kll_rank(col("sk"), 50.0).as("rank_50"),
          element_at(kll_pmf(col("sk"), Seq(25.0, 75.0)), 1).as("pmf_lo"),
          element_at(kll_pmf(col("sk"), Seq(25.0, 75.0)), 2).as("pmf_mid"),
          element_at(kll_pmf(col("sk"), Seq(25.0, 75.0)), 3).as("pmf_hi"),
          freq_estimate(col("f"), lit("15")).as("est_day15"),
          freq_stream_length(col("f")).as("stream_len"))
        .orderBy("event_type")
    }),

    "q24_quantile_sketch" -> ((s, dir) => {
      import graft.kll.functions._
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(kll_init_agg(col("value"), 16384).as("sk"))
        .select(col("event_type"), kll_n(col("sk")).as("n"),
          kll_quantile(col("sk"), 0.5).as("p50"),
          kll_quantile(col("sk"), 0.9).as("p90"))
        .orderBy("event_type")
    }),

    // Theta sketches: set ALGEBRA on sketches — suppliers shipping in both
    // halves of 1995, only H1, only H2, and either, all derived from two
    // sketches built in ONE scan (conditional aggregation). HLL cannot do
    // this: intersection via inclusion-exclusion compounds error, while a
    // theta intersection is itself a sketch that composes further. Exact
    // here (distinct suppliers << 2^12 nominal entries at verify scale).
    "q27_theta_supplier_sets" -> ((s, dir) => {
      import graft.theta.functions._
      val y = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1995)
      y.agg(
        theta_init_agg(when(month(col("l_shipdate")) <= 6, col("l_suppkey"))).as("h1"),
        theta_init_agg(when(month(col("l_shipdate")) > 6, col("l_suppkey"))).as("h2"))
        .select(
          theta_estimate(col("h1")).as("n_h1"),
          theta_estimate(col("h2")).as("n_h2"),
          theta_estimate(theta_intersect(col("h1"), col("h2"))).as("n_both"),
          theta_estimate(theta_a_not_b(col("h1"), col("h2"))).as("n_only_h1"),
          theta_estimate(theta_a_not_b(col("h2"), col("h1"))).as("n_only_h2"))
    }),

    // Skew-safe distinct counting: the salted two-phase sketch aggregation
    // (sketch per (key, salt), hll_merge to finish). Identical results to
    // unsalted by construction; at scale no reducer ever sees a hot key's
    // full volume. ExactSD keeps the estimate exact at verify cardinalities.
    "q28_salted_distinct" -> ((s, dir) => {
      graft.operators.Salting.saltedDistinctSketch(
        Tables.events(s, dir), Seq("event_type"), col("user_id"),
        saltBuckets = 16, relativeSD = ExactSD)
        .select(col("event_type"), hll_cardinality(col("value_hll")).as("users"))
        .orderBy("event_type")
    }),

    // Skew-safe algebraic aggregation: saltedAgg's two-phase plan (pre-agg
    // per (key, salt), then the bounded per-key finish). count/sum run on
    // exact integer cents and min/max are order-independent, so the salted
    // result is identical to the direct GROUP BY the oracle runs — at
    // scale phase 1 is what keeps a hot key from serializing one reducer.
    "q57_salted_agg" -> ((s, dir) => {
      val qtyCents = floor(col("l_quantity") * 100d + 0.5d).cast("long")
      val priceCents = floor(col("l_extendedprice") * 100d + 0.5d).cast("long")
      graft.operators.Salting.saltedAgg(
        Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_orderkey"),
          qtyCents.as("qty_cents"), priceCents.as("price_cents")),
        keyCols = Seq("l_returnflag"), saltBuckets = 16,
        saltSource = Seq(col("l_orderkey")),
        aggs = Seq(
          ("n_items", "count", lit(1)),
          ("sum_qty_cents", "sum", col("qty_cents")),
          ("min_price_cents", "min", col("price_cents")),
          ("max_price_cents", "max", col("price_cents"))))
        .orderBy("l_returnflag")
    }),

    // As-of join (composition: union + keyed window, one shuffle, no range
    // blow-up): for each purchase event, the user's most recent click at or
    // before it — classic attribution.
    "q29_asof_attribution" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOf.joinPrior(purchases, clicks, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", payload = col("event_id"), payloadAlias = "click")
        .select(col("purchase_id"), col("user_id"), col("asof_click").as("click_id"))
        .orderBy("purchase_id")
    }),

    // Deterministic 80/10/10 train/val/test split — membership is a pure
    // function of md5(doc_id), so the same document lands in the same
    // split on every run and every engine (the oracle re-derives every
    // assignment). No shuffle: the split is a map-side column.
    "q30_dataset_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.operators.Sampling.splitColumn(col("doc_id"),
            Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), 10L).as("split"))
        .orderBy("doc_id")
    }),

    // KLL re-aggregation: the per-type sketches merge into one global
    // sketch — percentiles over all events without rescanning them. THE
    // reason quantile sketches beat exact percentile jobs at scale.
    "q25_quantile_rollup" -> ((s, dir) => {
      import graft.kll.functions._
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(kll_init_agg(col("value"), 16384).as("sk"))
        .agg(kll_merge(col("sk"), 16384).as("merged"))
        .select(kll_n(col("merged")).as("n"),
          kll_quantile(col("merged"), 0.5).as("p50"),
          kll_quantile(col("merged"), 0.99).as("p99"))
    }),

    // Distribution profiling: per-type value histograms as sketch CDFs.
    // k=32768 keeps every group exact at harness scale, so each CDF value
    // is count(v <= split)/n — one IEEE division the oracle replays
    // bit-for-bit (compared as e9-scaled integers). At cluster scale the
    // same query degrades gracefully to bounded-rank-error estimates
    // instead of failing; the two-phase sketch plan is unchanged.
    "q46_value_histogram" -> ((s, dir) => {
      import graft.kll.functions._
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(kll_init_agg(col("value"), 32768).as("sk"))
        .select(col("event_type"),
          posexplode(kll_cdf(col("sk"), Seq(1.0, 5.0, 10.0, 50.0, 100.0, 200.0)))
            .as(Seq("bucket", "cdf")))
        .select(col("event_type"), col("bucket"),
          floor(col("cdf") * 1e9d + 0.5d).cast("long").as("cdf_e9"))
        .orderBy("event_type", "bucket")
    }),

    // Volume-drift monitoring: per event type, each day's count against
    // the PREVIOUS OBSERVED day (lag window), with an e6-integer ratio and
    // an alert flag outside [0.5×, 2×] — the per-partition data-quality
    // check a 100-TB ingest runs before promoting a day's data. One keyed
    // window over (type, day) coordinates; the raw scan never re-shuffles.
    "q115_event_drift" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("prev_n", lag("n", 1).over(w))
        .withColumn("ratio_e6", expr("n * 1000000L div prev_n"))
        .withColumn("alert", col("prev_n").isNotNull &&
          (col("ratio_e6") < 500000L || col("ratio_e6") > 2000000L))
        .select(col("day"), col("event_type"), col("n"),
          coalesce(col("prev_n"), lit(0L)).as("prev_n"),
          coalesce(col("ratio_e6"), lit(0L)).as("ratio_e6"), col("alert"))
        .orderBy("day", "event_type")
    }),

    // CDC apply (SCD-1): fold an orders-derived changeset into the customer
    // snapshot — latest change per key wins, 'F'-status = delete, every
    // tenth order synthesizes a NEW key (the insert path). The snapshot
    // side never shuffles: one window exchange on the changeset, then a
    // broadcast left-anti probe + union (Cdc scaladoc has the 100-TB
    // shape). Money in cents (BIGINT) per the file-header parity rules.
    "q109_cdc_apply" -> ((s, dir) => {
      import graft.operators.Cdc
      val snap = Tables.customer(s, dir).select(
        col("c_custkey").as("k"),
        floor(col("c_acctbal") * 100d + 0.5d).cast("long").as("acct_cents"),
        col("c_mktsegment").as("segment"))
      val ch = Tables.orders(s, dir).select(
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("k"),
        col("o_orderdate"), col("o_orderkey"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("acct_cents"),
        col("o_orderpriority").as("segment"))
      Cdc.applyChangeset(snap, ch, Seq("k"), Seq("o_orderdate", "o_orderkey"))
        .orderBy("k")
    }),

    // SCD-2 history: per-customer order-state versions (one per day,
    // latest order of the day wins) expanded into validity intervals —
    // valid_from/valid_to/is_current. Two keyed windows, coordinates only.
    "q110_scd2_intervals" -> ((s, dir) => {
      import graft.operators.Cdc
      val perDay = Tables.orders(s, dir).select(
          col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"),
          floor(col("o_totalprice") * 100d + 0.5d).cast("long").as("price_cents"),
          col("o_orderstatus").as("status"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k"), col("d")).orderBy(col("o_orderkey").desc)))
        .filter(col("rn") === 1)
      Cdc.scd2Intervals(perDay, Seq("k"), "d")
        .select(col("k"), col("valid_from"), col("valid_to"),
          col("is_current"), col("price_cents"), col("status"))
        .orderBy("k", "valid_from")
    }),

    // POINT-IN-TIME (temporal) join against the SCD-2 dimension: each
    // event enriches with the order-status version VALID AT its event
    // day — the time-correct enrichment that prevents feature leakage
    // (joining today's dimension onto last month's events trains on the
    // future). Shape: per-key equi-join fanning out to that key's few
    // intervals, then the containment filter keeps at most one (the
    // intervals partition the timeline) — never a global inequality
    // join. Events before the key's first version, or with no dimension
    // row at all, survive as 'none' through the left join.
    "q169_scd2_temporal_join" -> ((s, dir) => {
      import graft.operators.Cdc
      val perDay = Tables.orders(s, dir).select(
          col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), col("o_orderstatus").as("status"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k"), col("d")).orderBy(col("o_orderkey").desc)))
        .filter(col("rn") === 1)
      val iv = Cdc.scd2Intervals(perDay, Seq("k"), "d")
        .select(col("k").as("ik"), col("valid_from"), col("valid_to"), col("status"))
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("k"), to_date(col("ts")).as("d"))
      ev.join(iv,
          ev("k") === iv("ik") && ev("d") >= iv("valid_from") &&
            (iv("valid_to").isNull || ev("d") < iv("valid_to")), "left")
        .groupBy(coalesce(col("status"), lit("none")).as("status"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(ev("k")).as("n_users"))
        .orderBy("status")
    })
  )

  /** Batch re-derivation of which day windows a 36h watermark had closed
   * when the stream drained — shared by q73 (count path) and q80 (freq
   * sketch path): both engine paths must emit exactly this table. */
  private val streamingAppendOracleSql: String =
    """WITH wm AS (
      |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events
      |),
      |agg AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT day, event_type, n
      |FROM agg, wm
      |WHERE epoch_ms(day + INTERVAL 1 DAY) <= wm.wm_ms
      |ORDER BY day, event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "hll_init_scalar" ->
      """SELECT doc_id, CASE WHEN lang IS NULL THEN NULL ELSE 1 END::BIGINT AS card
        |FROM documents ORDER BY doc_id""".stripMargin,
    "hll_init_collection_scalar" ->
      """SELECT doc_id, (CASE WHEN lang = source THEN 1 ELSE 2 END)::BIGINT AS card
        |FROM documents ORDER BY doc_id""".stripMargin,
    "hll_agg_months" ->
      """SELECT l_returnflag, count(DISTINCT month(l_shipdate))::BIGINT AS months
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_collection_agg_priorities" ->
      """SELECT o_orderstatus, count(DISTINCT o_orderpriority)::BIGINT AS priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "hll_merge_rollup" ->
      """SELECT l_returnflag, count(DISTINCT month(l_shipdate))::BIGINT AS months
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_row_merge_union" ->
      """SELECT l_returnflag,
        |  (count(DISTINCT month(l_shipdate)) + count(DISTINCT l_linestatus))::BIGINT AS combined
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_intersect_linenumbers" ->
      """SELECT (
        |  (SELECT count(DISTINCT l_linenumber) FROM lineitem WHERE l_quantity < 25)
        |  + (SELECT count(DISTINCT l_linenumber) FROM lineitem WHERE l_quantity >= 25)
        |  - (SELECT count(DISTINCT l_linenumber) FROM lineitem)
        |)::BIGINT AS common""".stripMargin,
    "q133_topk_agg" ->
      """SELECT o_orderpriority, rank::INT AS rank, o_orderkey, price_e2 FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
        |               o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q131_audience_overlap" ->
      """WITH t AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, count(*)::BIGINT AS n FROM t GROUP BY 1),
        |o AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*)::BIGINT AS ov
        |  FROM t a JOIN t b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |  ca.n AS users_a, cb.n AS users_b,
        |  coalesce(o.ov, 0)::BIGINT AS overlap
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN o ON o.type_a = ca.event_type AND o.type_b = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q132_histogram_drift" ->
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    floor(value)::BIGINT AS bkt, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT day, sum(c)::BIGINT AS n FROM h GROUP BY 1),
        |j AS (
        |  SELECT coalesce(a.day, b.day) AS day, coalesce(a.bkt, b.bkt) AS bkt,
        |    coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
        |  FROM h a FULL JOIN (SELECT day - 1 AS day, bkt, c FROM h) b
        |    ON a.day = b.day AND a.bkt = b.bkt),
        |d AS (
        |  SELECT j.day, sum(abs(j.ca * tb.n - j.cb * ta.n))::BIGINT AS num,
        |    min(ta.n) AS na, min(tb.n) AS nb
        |  FROM j JOIN t ta ON ta.day = j.day
        |       JOIN t tb ON tb.day = j.day + 1
        |  GROUP BY 1)
        |SELECT day, (num * 1000000) // (2 * na * nb) AS tvd_e6,
        |  na AS n_day, nb AS n_next
        |FROM d ORDER BY day""".stripMargin,
    // The same data-bounded spine via generate_series.
    "q149_gap_filled_daily" ->
      """WITH b AS (
        |  SELECT min(date_trunc('day', ts))::DATE AS lo,
        |    max(date_trunc('day', ts))::DATE AS hi
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
        |    INTERVAL 1 DAY))::DATE AS day FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |d AS (
        |  SELECT date_trunc('day', ts)::DATE AS day, event_type,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT s.day, t.event_type, coalesce(d.n, 0)::BIGINT AS n
        |FROM spine s CROSS JOIN t
        |LEFT JOIN d ON d.day = s.day AND d.event_type = t.event_type
        |ORDER BY s.day, t.event_type""".stripMargin,
    // Same alignment as q132's oracle plus the running-CDF window; the
    // sup-norm in the identical cross-multiplied integers.
    "q143_ks_drift" ->
      """WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT day, sum(c)::BIGINT AS n FROM h GROUP BY 1),
        |j AS (
        |  SELECT coalesce(a.day, b.day) AS day,
        |    coalesce(a.cents, b.cents) AS cents,
        |    coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
        |  FROM h a FULL JOIN (SELECT day - 1 AS day, cents, c FROM h) b
        |    ON a.day = b.day AND a.cents = b.cents),
        |cum AS (
        |  SELECT day, cents,
        |    sum(ca) OVER (PARTITION BY day ORDER BY cents) AS cuma,
        |    sum(cb) OVER (PARTITION BY day ORDER BY cents) AS cumb
        |  FROM j),
        |d AS (
        |  SELECT c.day, max(abs(c.cuma * tb.n - c.cumb * ta.n))::BIGINT AS num,
        |    min(ta.n) AS na, min(tb.n) AS nb
        |  FROM cum c JOIN t ta ON ta.day = c.day
        |       JOIN t tb ON tb.day = c.day + 1
        |  GROUP BY 1)
        |SELECT day, (num * 1000000) // (na * nb) AS ks_e6,
        |  na AS n_day, nb AS n_next
        |FROM d ORDER BY day""".stripMargin,
    "hll_convert_graft" ->
      """SELECT l_returnflag, count(DISTINCT month(l_shipdate))::BIGINT AS months
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_ds_format" ->
      """SELECT event_type, count(DISTINCT dayofmonth(ts))::BIGINT AS days
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // A complete HLL implementation in DuckDB SQL, register-compatible with
    // GRAFT v1 bytes (p=8): hash = first 8 bytes of md5 as uint64, register
    // index = top 8 bits, rank = 1 + leading zeros of the remaining 56 bits
    // (57 when they are all zero — the sketch's stop-bit semantics).
    "hll_graft_registers" ->
      """WITH h AS (
        |  SELECT o_orderpriority,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 16))::UBIGINT AS h
        |  FROM orders
        |),
        |r AS (
        |  SELECT o_orderpriority, (h >> 56)::INT AS idx,
        |    (CASE WHEN (h & 72057594037927935::UBIGINT) = 0 THEN 57
        |          ELSE 57 - length(ltrim(bin(h & 72057594037927935::UBIGINT), '0'))
        |     END) AS rank
        |  FROM h
        |),
        |m AS (SELECT o_orderpriority, idx, max(rank) AS reg FROM r GROUP BY 1, 2)
        |SELECT g.o_orderpriority AS o_orderpriority, i.idx::INT AS idx,
        |  coalesce(m.reg, 0)::INT AS reg
        |FROM (SELECT DISTINCT o_orderpriority FROM orders) g
        |CROSS JOIN (SELECT unnest(range(256)) AS idx) i
        |LEFT JOIN m ON m.o_orderpriority = g.o_orderpriority AND m.idx = i.idx
        |ORDER BY o_orderpriority, idx""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))::BIGINT AS sum_qty_cents,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS sum_base_price_cents,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)))::BIGINT
        |    AS sum_disc_price_micros,
        |  count(*)::BIGINT AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name,
        |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS revenue_cents,
        |  count(*)::BIGINT AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_customers_without_orders" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_top_orders_per_priority" ->
      """SELECT o_orderpriority, rk::INT AS rk, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "q5_top10_orders" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q6_rollup_quantities" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))::BIGINT AS sum_qty_cents,
        |  count(*)::BIGINT AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q7_churned_users" ->
      """SELECT user_id FROM events WHERE date_trunc('day', ts) = DATE '2024-01-01'
        |EXCEPT
        |SELECT user_id FROM events WHERE date_trunc('day', ts) = DATE '2024-01-02'
        |ORDER BY user_id""".stripMargin,
    "q8_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 49
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q9_daily_event_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*)::BIGINT AS n,
        |  sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))::BIGINT AS total_value_e4
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q123_stream_static_enrich" ->
      """SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
        |  c.c_mktsegment AS segment,
        |  count(*)::BIGINT AS n,
        |  sum(CAST(floor(e.value * 10000 + 0.5) AS BIGINT))::BIGINT AS total_value_e4
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY day, segment""".stripMargin,
    // Same quantization (integer //, matching Spark's exact-by-bound double
    // division) and the same four mask-shift interleave rounds, carried
    // through a CTE chain so each round's expression appears once.
    "q101_zorder_audit" ->
      """WITH q AS (
        |  SELECT
        |    least((date_diff('day', DATE '1992-01-01', o_orderdate) * 65536) // 2501,
        |          65535) AS qx,
        |    least((floor(o_totalprice)::BIGINT * 65536) // 600001, 65535) AS qy
        |  FROM orders
        |),
        |t0 AS (SELECT qx, qy, qx & 65535 AS x, qy & 65535 AS y FROM q),
        |t1 AS (SELECT qx, qy, (x | (x << 8)) & 16711935 AS x,
        |                      (y | (y << 8)) & 16711935 AS y FROM t0),
        |t2 AS (SELECT qx, qy, (x | (x << 4)) & 252645135 AS x,
        |                      (y | (y << 4)) & 252645135 AS y FROM t1),
        |t3 AS (SELECT qx, qy, (x | (x << 2)) & 858993459 AS x,
        |                      (y | (y << 2)) & 858993459 AS y FROM t2),
        |t4 AS (SELECT qx, qy, (x | (x << 1)) & 1431655765 AS x,
        |                      (y | (y << 1)) & 1431655765 AS y FROM t3),
        |z AS (SELECT qx, qy, (x | (y << 1)) >> 26 AS file_id FROM t4)
        |SELECT file_id, count(*)::BIGINT AS n_rows,
        |  min(qx)::BIGINT AS min_x, max(qx)::BIGINT AS max_x,
        |  min(qy)::BIGINT AS min_y, max(qy)::BIGINT AS max_y
        |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin,

    // The Hilbert walk, one generated CTE per curve order: level i reads
    // (x_i, y_i, d_i), adds s²·(3·rx xor ry), and rotates/reflects into
    // the quadrant frame — the Hilbert2 kernel loop body, verbatim.
    "q128_hilbert_audit" -> {
      val levels = (0 until 16).map { i =>
        val s = 1L << (15 - i)
        s"""|h${i + 1} AS (
            |  SELECT qx, qy,
            |    d$i + ${s * s}::BIGINT * xor(3 * CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END,
            |                  CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END) AS d${i + 1},
            |    CASE WHEN (y$i & $s) > 0 THEN x$i
            |         WHEN (x$i & $s) > 0 THEN 65535 - y$i ELSE y$i END AS x${i + 1},
            |    CASE WHEN (y$i & $s) > 0 THEN y$i
            |         WHEN (x$i & $s) > 0 THEN 65535 - x$i ELSE x$i END AS y${i + 1}
            |  FROM h$i)""".stripMargin('|')
      }.mkString(",\n")
      s"""WITH q AS (
        |  SELECT
        |    least((date_diff('day', DATE '1992-01-01', o_orderdate) * 65536) // 2501,
        |          65535) AS qx,
        |    least((floor(o_totalprice)::BIGINT * 65536) // 600001, 65535) AS qy
        |  FROM orders
        |),
        |h0 AS (SELECT qx, qy, qx AS x0, qy AS y0, 0::BIGINT AS d0 FROM q),
        |$levels
        |SELECT file_id, count(*)::BIGINT AS n_rows,
        |  min(qx)::BIGINT AS min_x, max(qx)::BIGINT AS max_x,
        |  min(qy)::BIGINT AS min_y, max(qy)::BIGINT AS max_y
        |FROM (SELECT qx, qy, d16 >> 26 AS file_id FROM h16)
        |GROUP BY 1 ORDER BY file_id""".stripMargin
    },
    "q105_pivot_daily_events" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  count(*) FILTER (event_type = 'click')::BIGINT AS click,
        |  count(*) FILTER (event_type = 'error')::BIGINT AS error,
        |  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
        |  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
        |  count(*) FILTER (event_type = 'view')::BIGINT AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // Spark's grouping_id: first cube column = most significant bit.
    "q106_cube_orders" ->
      """SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n,
        |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS total_cents,
        |  (grouping(o_orderpriority) * 2 + grouping(o_orderstatus))::BIGINT AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,
    "q107_cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events
        |),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT c.cohort_day,
        |  date_diff('day', c.cohort_day, e.day)::INT AS day_offset,
        |  count(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM ev e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    // Identical to q9's day/type counts — batch SQL is the parity oracle
    // for the streaming execution.
    "q67_streaming_daily_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q68_streaming_sketch_state" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  count(DISTINCT event_type)::BIGINT AS n_types
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // Append-mode parity: batch re-derivation of WHICH day windows the
    // final watermark (max event time − 36h, millisecond precision — the
    // engine tracks event-time stats in ms) had closed when the stream
    // drained; trailing windows past it stay withheld on both sides.
    // q80 emits the same closed-window truth through sketch state — one
    // oracle template, two engine paths.
    "q80_streaming_heavyhitter_state" -> streamingAppendOracleSql,
    "q73_streaming_append_windows" -> streamingAppendOracleSql,
    // Same micro-resolution comparison rule as q48: ts is TIMESTAMP(NANOS)
    // in parquet and micros in Spark, so the oracle compares epoch_us.
    "q129_streaming_interval_outer" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 36 HOUR AS w FROM events),
        |s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |    epoch_us(s.ts::TIMESTAMP) AS signup_us,
        |    epoch_us(p.ts::TIMESTAMP) AS purchase_us
        |  FROM s JOIN p ON p.user_id = s.user_id
        |   AND epoch_us(p.ts::TIMESTAMP) >= epoch_us(s.ts::TIMESTAMP)
        |   AND epoch_us(p.ts::TIMESTAMP) <= epoch_us(s.ts::TIMESTAMP) + 86400000000),
        |u AS (
        |  SELECT s.user_id, s.event_id AS signup_id, NULL::BIGINT AS purchase_id,
        |    epoch_us(s.ts::TIMESTAMP) AS signup_us, NULL::BIGINT AS purchase_us
        |  FROM s, wm
        |  WHERE s.ts + INTERVAL 24 HOUR < wm.w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM p WHERE p.user_id = s.user_id
        |        AND epoch_us(p.ts::TIMESTAMP) >= epoch_us(s.ts::TIMESTAMP)
        |        AND epoch_us(p.ts::TIMESTAMP) <= epoch_us(s.ts::TIMESTAMP) + 86400000000))
        |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
        |ORDER BY signup_id, purchase_id""".stripMargin,
    "q89_streaming_interval_join" ->
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |  epoch_us(s.ts::TIMESTAMP) AS signup_us,
        |  epoch_us(p.ts::TIMESTAMP) AS purchase_us
        |FROM events s JOIN events p
        |  ON p.user_id = s.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts::TIMESTAMP) >= epoch_us(s.ts::TIMESTAMP)
        | AND epoch_us(p.ts::TIMESTAMP) <= epoch_us(s.ts::TIMESTAMP) + 86400000000
        |ORDER BY signup_id, purchase_id""".stripMargin,
    // The final per-user summary equals the batch aggregation — state
    // round-tripping and timeout retirement must not change the values.
    "q94_streaming_session_state" ->
      """SELECT user_id,
        |  epoch_us(min(ts)::TIMESTAMP) AS first_us,
        |  epoch_us(max(ts)::TIMESTAMP) AS last_us,
        |  count(*)::BIGINT AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same truth as q94: the state API (transformWithState vs
    // mapGroupsWithState) must be invisible in the final summaries.
    "q135_tws_session_state" ->
      """SELECT user_id,
        |  epoch_us(min(ts)::TIMESTAMP) AS first_us,
        |  epoch_us(max(ts)::TIMESTAMP) AS last_us,
        |  count(*)::BIGINT AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same truth as q113: warm-started state + streamed remainder must
    // equal the batch latest-wins over the full changeset.
    "q147_tws_cdc_warmstart" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS k,
        |    epoch_us(o_orderdate) AS seq_us, o_orderkey AS seq_id,
        |    o_orderstatus = 'F' AS deleted,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS acct_cents,
        |    o_orderpriority AS segment
        |  FROM orders)
        |SELECT k, seq_us, seq_id, deleted, acct_cents, segment FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY k ORDER BY seq_us DESC, seq_id DESC) AS rn
        |  FROM ch) WHERE rn = 1
        |ORDER BY k""".stripMargin,
    // Users whose last event precedes the final watermark (max ts − 2h)
    // by at least the 6h silence horizon.
    "q152_tws_silence_alerts" ->
      """WITH m AS (SELECT max(ts)::TIMESTAMP AS mx FROM events)
        |SELECT user_id, epoch_us(max(ts)::TIMESTAMP) AS last_us
        |FROM events, m
        |GROUP BY user_id, mx
        |HAVING max(ts)::TIMESTAMP + INTERVAL 6 HOUR
        |  <= mx - INTERVAL 2 HOUR
        |ORDER BY user_id""".stripMargin,
    // Every event fans into its two 2-day hopping windows (start = its
    // day and the day before); a window is emitted iff its END is at or
    // before the final watermark max(ts) − 36h — q73's closure rule with
    // the hop width.
    "q153_streaming_hopping_windows" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events),
        |fan AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) - k AS win_start,
        |    event_type
        |  FROM events, (SELECT unnest([0, 1]) AS k)),
        |agg AS (
        |  SELECT win_start, event_type, count(*)::BIGINT AS n
        |  FROM fan GROUP BY 1, 2)
        |SELECT win_start, event_type, n FROM agg, wm
        |WHERE epoch_ms(win_start + INTERVAL 2 DAY) <= wm.wm_ms
        |ORDER BY win_start, event_type""".stripMargin,
    // q153's fan-out + closure rule, distinct types per closed window.
    "q181_streaming_hopping_sketch" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events),
        |fan AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) - k AS win_start,
        |    event_type
        |  FROM events, (SELECT unnest([0, 1]) AS k)),
        |agg AS (
        |  SELECT win_start, count(DISTINCT event_type)::BIGINT AS n_types
        |  FROM fan GROUP BY 1)
        |SELECT win_start, n_types FROM agg, wm
        |WHERE epoch_ms(win_start + INTERVAL 2 DAY) <= wm.wm_ms
        |ORDER BY win_start""".stripMargin,
    // Same trailing-7-present-days frame, lower median by 1-based pick
    // from the sorted list, same e6 integer ratio and alert band.
    "q156_rolling_median_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, day, n,
        |    list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS trail
        |  FROM daily),
        |m AS (
        |  SELECT event_type, day, n, trail[(len(trail) + 1) // 2] AS med
        |  FROM tr WHERE len(trail) >= 4)
        |SELECT event_type, day, n, med,
        |  n * 1000000 // med AS ratio_e6,
        |  (n * 1000000 // med < 500000 OR n * 1000000 // med > 2000000)
        |    AS alert
        |FROM m ORDER BY event_type, day""".stripMargin,
    // The strict 3-step chain restated as per-step joins: each stage's
    // first qualifying event strictly after the previous stage's, within
    // its 7-day deadline.
    "q157_multistep_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup')
        |    AS s_ts
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT e.user_id, min(e.ts) AS v_ts
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s.s_ts
        |    AND e.ts <= s.s_ts + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
        |    AND e.ts <= v.v_ts + INTERVAL 7 DAY
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(s_ts) FROM s)::BIGINT AS n_signup,
        |  (SELECT count(*) FROM v)::BIGINT AS n_view_7d,
        |  (SELECT count(*) FROM p)::BIGINT AS n_purchase_7d""".stripMargin,
    // The merged two-generation sketch table must equal the single-pass
    // lifetime answer; the row count per user is their distinct active
    // days (each day's sketch lives in exactly one generation).
    "q158_incremental_hll_rollup" ->
      """SELECT user_id,
        |  count(DISTINCT event_type)::BIGINT AS lifetime_types,
        |  count(DISTINCT date_trunc('day', ts))::BIGINT AS n_day_sketches
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The ListState view's truth: the batch recency ranking, top 3.
    // The reservoir's truth: the SAME md5-64 ticket order, re-derived as
    // a batch ranking per source (rebias to two's-complement to match
    // Spark's signed ticket sort; ties broken by doc_id both sides).
    // Batch rule of the monotone gate: rows whose QI cohort total >= k.
    "q199_streaming_kanon_gate" ->
      """WITH g AS (
        |  SELECT event_type, floor(value / 20)::INT AS vb, event_id,
        |    count(*) OVER (PARTITION BY event_type, floor(value / 20)::INT) AS c
        |  FROM events)
        |SELECT event_type, vb, event_id FROM g WHERE c >= 8
        |ORDER BY event_type, vb, event_id""".stripMargin,
    "q190_streaming_reservoir" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5('rsv:' || doc_id::VARCHAR), 1, 16))::UBIGINT AS hu
        |  FROM documents),
        |hs AS (
        |  SELECT source, doc_id,
        |    CASE WHEN hu >= 9223372036854775808::UBIGINT
        |         THEN hu::HUGEINT - 18446744073709551616::HUGEINT
        |         ELSE hu::HUGEINT END AS hsig
        |  FROM h),
        |r AS (
        |  SELECT source, doc_id,
        |    count(*) OVER (PARTITION BY source) AS n_seen,
        |    row_number() OVER (PARTITION BY source ORDER BY hsig, doc_id) AS rank
        |  FROM hs)
        |SELECT source, n_seen::BIGINT AS n_seen, rank::INT AS rank, doc_id
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "q144_tws_recent_k" ->
      """SELECT user_id, rank::INT AS rank, event_id FROM (
        |  SELECT user_id, event_id, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,
    // The MapState view's truth: exact distinct types + totals per user.
    "q141_tws_distinct_types" ->
      """SELECT user_id, count(DISTINCT event_type)::BIGINT AS n_types,
        |  count(*)::BIGINT AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q109's latest-wins window, tombstones kept (deleted flag instead of
    // the batch merge's drop) — the streaming state view's contract.
    "q113_streaming_cdc_state" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS k,
        |    epoch_us(o_orderdate) AS seq_us, o_orderkey AS seq_id,
        |    o_orderstatus = 'F' AS deleted,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS acct_cents,
        |    o_orderpriority AS segment
        |  FROM orders)
        |SELECT k, seq_us, seq_id, deleted, acct_cents, segment FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY k ORDER BY seq_us DESC, seq_id DESC) AS rn
        |  FROM ch) WHERE rn = 1
        |ORDER BY k""".stripMargin,
    // Closed-window distinct types — q68's oracle restricted to the
    // windows the 36h watermark had closed.
    "q82_streaming_hll_append" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events
        |),
        |agg AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(DISTINCT event_type)::BIGINT AS n_types
        |  FROM events GROUP BY 1
        |)
        |SELECT day, n_types FROM agg, wm
        |WHERE epoch_ms(day + INTERVAL 1 DAY) <= wm.wm_ms
        |ORDER BY day""".stripMargin,
    // Same closed-window truth as q82 — the state BACKEND (RocksDB vs the
    // default provider) must be invisible in the results.
    "q116_streaming_hll_rocksdb" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events
        |),
        |agg AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(DISTINCT event_type)::BIGINT AS n_types
        |  FROM events GROUP BY 1
        |)
        |SELECT day, n_types FROM agg, wm
        |WHERE epoch_ms(day + INTERVAL 1 DAY) <= wm.wm_ms
        |ORDER BY day""".stripMargin,
    // Same closed-window scope; KLL's exact n/min/max against plain
    // aggregates (order statistics — no float arithmetic either side).
    "q81_streaming_quantile_state" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 36 * 3600 * 1000 AS wm_ms FROM events
        |),
        |agg AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(value)::BIGINT AS n_values,
        |    min(value) AS min_value, max(value) AS max_value
        |  FROM events GROUP BY 1
        |)
        |SELECT day, n_values, min_value, max_value
        |FROM agg, wm
        |WHERE epoch_ms(day + INTERVAL 1 DAY) <= wm.wm_ms
        |ORDER BY day""".stripMargin,
    // Windowed COUNT(DISTINCT) re-derived join-style: a type is in the
    // user's cumulative set on day d iff its first-seen day <= d.
    "q62_window_sketch" ->
      """WITH f AS (
        |  SELECT user_id, event_type, min(CAST(date_trunc('day', ts) AS DATE)) AS fday
        |  FROM events GROUP BY 1, 2
        |),
        |days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
        |)
        |SELECT d.user_id, d.day, count(*)::BIGINT AS cum_types
        |FROM days d JOIN f ON d.user_id = f.user_id AND f.fday <= d.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q62's truth on the theta family (exact at this universe).
    "q150_window_theta" ->
      """WITH f AS (
        |  SELECT user_id, event_type, min(CAST(date_trunc('day', ts) AS DATE)) AS fday
        |  FROM events GROUP BY 1, 2
        |),
        |days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
        |)
        |SELECT d.user_id, d.day, count(*)::BIGINT AS cum_types
        |FROM days d JOIN f ON d.user_id = f.user_id AND f.fday <= d.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_json_props" ->
      """SELECT event_type,
        |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |  count(json_extract_string(props, '$.k'))::BIGINT AS n_with_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ts::TIMESTAMP truncates nanos to micros exactly like the Spark
    // loader's `ts div 1000`, so epoch_us values match bit-for-bit.
    "q43_funnel_signup_purchase" ->
      """SELECT user_id,
        |  epoch_us(s) AS signup_us, epoch_us(c) AS click_us, epoch_us(p) AS purchase_us
        |FROM (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS s,
        |    min(CASE WHEN event_type = 'click' THEN ts::TIMESTAMP END) AS c,
        |    min(CASE WHEN event_type = 'purchase' THEN ts::TIMESTAMP END) AS p
        |  FROM events GROUP BY 1)
        |WHERE s < c AND c < p
        |ORDER BY user_id""".stripMargin,
    "q49_salted_join" ->
      """SELECT o_orderpriority,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS revenue_cents,
        |  count(*)::BIGINT AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_range_join_correlation" ->
      """SELECT a.event_id AS error_id, b.event_id AS purchase_id
        |FROM events a, events b
        |WHERE a.event_type = 'error' AND b.event_type = 'purchase'
        |  AND epoch_us(b.ts::TIMESTAMP) >= epoch_us(a.ts::TIMESTAMP)
        |  AND epoch_us(b.ts::TIMESTAMP) < epoch_us(a.ts::TIMESTAMP) + 300000000
        |ORDER BY error_id, purchase_id""".stripMargin,
    // Gaps-and-islands replica of session_window's merge rule: a gap of
    // exactly 2 hours breaks the session (Spark merges only overlapping
    // [ts, ts+gap) intervals), hence `>= INTERVAL 2 HOUR` starts an island.
    "q44_session_windows" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               >= INTERVAL 2 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  count(*)::BIGINT AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // q44's sessions + an ordered string_agg — the same total order
    // ((ts, event_id)) the Spark sort_array uses.
    "q145_session_sequences" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type
        |  FROM events),
        |d AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               >= INTERVAL 2 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  count(*)::BIGINT AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // The trailing-7-ACTIVE-days frame restated by rank self-join: day
    // ranks per user, each day joined to ranks [rn−6, rn], distinct
    // types over the joined day set.
    "q171_sliding_window_sketch" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |r AS (
        |  SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM ud),
        |e AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type
        |  FROM events)
        |SELECT a.user_id, a.day, count(DISTINCT e.event_type)::BIGINT AS types_7d
        |FROM r a
        |JOIN r b ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 6 AND a.rn
        |JOIN e ON e.user_id = a.user_id AND e.day = b.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // First signup, first strictly-later purchase, horizon-censored.
    "q179_survival_labels" ->
      """WITH h AS (SELECT max(epoch_us(ts::TIMESTAMP)) AS h_us FROM events),
        |s AS (
        |  SELECT user_id, min(epoch_us(ts::TIMESTAMP))
        |    FILTER (WHERE event_type = 'signup') AS s_us
        |  FROM events GROUP BY 1),
        |su AS (SELECT user_id, s_us FROM s WHERE s_us IS NOT NULL),
        |fp AS (
        |  SELECT e.user_id, min(epoch_us(e.ts::TIMESTAMP)) AS fp_us
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts::TIMESTAMP) > su.s_us
        |  GROUP BY 1)
        |SELECT su.user_id, su.s_us AS signup_us,
        |  coalesce(fp.fp_us - su.s_us, h.h_us - su.s_us) AS duration_us,
        |  fp.fp_us IS NOT NULL AS event_observed
        |FROM su LEFT JOIN fp USING (user_id), h
        |ORDER BY su.user_id""".stripMargin,
    // q44's sessions, distinct types per session, ordered pairs counted.
    "q180_covisitation" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events),
        |d AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               >= INTERVAL 2 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |st AS (SELECT DISTINCT user_id, sid, event_type AS t FROM s)
        |SELECT a.t AS ta, b.t AS tb, count(*)::BIGINT AS n_sessions
        |FROM st a JOIN st b
        |  ON a.user_id = b.user_id AND a.sid = b.sid AND a.t < b.t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same cutoff (max day − 7), same windowed conditional counts.
    "q178_churn_labels" ->
      """WITH cut AS (
        |  SELECT CAST(date_trunc('day', max(ts)) AS DATE) - 7 AS c
        |  FROM events)
        |SELECT user_id,
        |  (count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE) <= c))::BIGINT AS n_obs,
        |  (count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE) <= c
        |     AND event_type = 'purchase'))::BIGINT AS n_purchases_obs,
        |  max(CASE WHEN CAST(date_trunc('day', ts) AS DATE) <= c
        |      THEN epoch_us(ts::TIMESTAMP) END) AS last_obs_us,
        |  (count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE) > c))
        |    = 0 AS churned
        |FROM events, cut
        |GROUP BY user_id, c
        |HAVING count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE) <= c) > 0
        |ORDER BY user_id""".stripMargin,
    // Same pivoted profiles, same integer cross-multiplied 0.95² test.
    "q174_behavior_twins" ->
      """WITH p AS (
        |  SELECT user_id,
        |    count(*) FILTER (WHERE event_type = 'click')::BIGINT AS c1,
        |    count(*) FILTER (WHERE event_type = 'error')::BIGINT AS c2,
        |    count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS c3,
        |    count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS c4,
        |    count(*) FILTER (WHERE event_type = 'view')::BIGINT AS c5
        |  FROM events GROUP BY user_id)
        |SELECT a.user_id AS ua, b.user_id AS ub,
        |  (a.c1*b.c1 + a.c2*b.c2 + a.c3*b.c3 + a.c4*b.c4 + a.c5*b.c5) AS dot
        |FROM p a JOIN p b ON a.user_id < b.user_id
        |WHERE (a.c1*b.c1 + a.c2*b.c2 + a.c3*b.c3 + a.c4*b.c4 + a.c5*b.c5)::HUGEINT
        |    * (a.c1*b.c1 + a.c2*b.c2 + a.c3*b.c3 + a.c4*b.c4 + a.c5*b.c5)::HUGEINT
        |    * 10000
        |  >= 9025::HUGEINT
        |          * (a.c1*a.c1 + a.c2*a.c2 + a.c3*a.c3 + a.c4*a.c4 + a.c5*a.c5)::HUGEINT
        |          * (b.c1*b.c1 + b.c2*b.c2 + b.c3*b.c3 + b.c4*b.c4 + b.c5*b.c5)::HUGEINT
        |ORDER BY ua, ub""".stripMargin,
    // Same cohort rule; per-table IN counts, remnants identically zero.
    "q170_deletion_audit" ->
      """WITH doomed AS (
        |  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 97 = 0)
        |SELECT 'customer' AS "table",
        |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT k FROM doomed))::BIGINT AS to_delete,
        |  0::BIGINT AS remnants_after_scrub
        |UNION ALL
        |SELECT 'events',
        |  (SELECT count(*) FROM events WHERE user_id IN (SELECT k FROM doomed))::BIGINT,
        |  0::BIGINT
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM doomed))::BIGINT,
        |  0::BIGINT
        |ORDER BY "table" """.stripMargin,
    // Same rows-frame density count, alerts on error rows only.
    "q167_error_burst" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts, is_err,
        |    sum(is_err) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n_err10
        |  FROM e)
        |SELECT user_id, event_id, epoch_us(ts) AS us, n_err10::BIGINT AS n_err10
        |FROM w WHERE is_err = 1 AND n_err10 >= 3
        |ORDER BY user_id, event_id""".stripMargin,
    // Lag gaps in integer microseconds, lower-median rank
    // k = (n−1) div 2 + 1 by row_number — q130's definitional form.
    "q168_interarrival_median" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) -
        |    lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |gg AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT user_id, gap_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM gg)
        |SELECT user_id, ((n - 1) // 2 + 1)::BIGINT AS k,
        |  gap_us AS median_gap_us
        |FROM r WHERE rn = (n - 1) // 2 + 1
        |ORDER BY user_id""".stripMargin,
    // Gaps-and-islands per (user, type), first row of each chain by
    // (ts, event_id), suppressed = chain size − 1.
    "q163_ttl_dedup" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id
        |  FROM events),
        |d AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
        |               ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id, event_type
        |               ORDER BY ts) >= INTERVAL 2 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |r AS (
        |  SELECT user_id, event_type, ts, event_id, sid,
        |    row_number() OVER (PARTITION BY user_id, event_type, sid
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type, sid) AS n
        |  FROM s)
        |SELECT user_id, event_type, event_id AS kept_event_id,
        |  epoch_us(ts) AS kept_us, (n - 1)::BIGINT AS n_suppressed
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type, kept_us""".stripMargin,
    // Per-key counts from each side, na·nb contributions, e6 shares,
    // top 5.
    "q164_join_explosion_audit" ->
      """WITH ec AS (
        |  SELECT user_id AS k, count(*)::BIGINT AS na FROM events GROUP BY 1),
        |oc AS (
        |  SELECT o_custkey AS k, count(*)::BIGINT AS nb FROM orders GROUP BY 1),
        |c AS (
        |  SELECT k, na, nb, na * nb AS pairs FROM ec JOIN oc USING (k)),
        |t AS (SELECT sum(pairs)::BIGINT AS total_pairs FROM c)
        |SELECT k, na, nb, pairs, total_pairs,
        |  pairs * 1000000 // total_pairs AS share_e6
        |FROM c, t ORDER BY pairs DESC, k LIMIT 5""".stripMargin,
    // Correlated LATERAL top-1: the latest non-purchase touch at or
    // before each purchase, inside the 1-day window, ties by event_id
    // descending (the as-of payload-struct tie-break).
    "q166_last_touch_attribution" ->
      """SELECT p.event_id, epoch_us(p.ts::TIMESTAMP) AS purchase_us,
        |  t.t_id AS touch_id, t.t_type AS touch_type, t.t_us AS touch_us
        |FROM events p LEFT JOIN LATERAL (
        |  SELECT e.event_id AS t_id, e.event_type AS t_type,
        |    epoch_us(e.ts::TIMESTAMP) AS t_us
        |  FROM events e
        |  WHERE e.user_id = p.user_id AND e.event_type <> 'purchase'
        |    AND e.ts <= p.ts AND e.ts >= p.ts - INTERVAL 1 DAY
        |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) t ON true
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    // q145's gaps-and-islands sessions, initials string, same RE2-safe
    // pattern.
    "q160_journey_pattern" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, event_id,
        |    substr(event_type, 1, 1) AS c
        |  FROM events),
        |d AS (
        |  SELECT user_id, ts, event_id, c,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |               >= INTERVAL 2 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, event_id, c,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  string_agg(c, '' ORDER BY ts, event_id) AS journey
        |FROM s GROUP BY user_id, sid
        |HAVING regexp_matches(string_agg(c, '' ORDER BY ts, event_id),
        |  's[vc]*p')
        |ORDER BY user_id, session_start_us""".stripMargin,
    // Per-key counts, share of the scalar total, top 20 by volume.
    "q161_key_skew_report" ->
      """WITH c AS (
        |  SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS total FROM events)
        |SELECT user_id, n, n * 1000000 // total AS share_e6
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    "q22_retained_users" ->
      """SELECT user_id FROM events WHERE date_trunc('day', ts) = DATE '2024-01-01'
        |INTERSECT
        |SELECT user_id FROM events WHERE date_trunc('day', ts) = DATE '2024-01-02'
        |ORDER BY user_id""".stripMargin,
    "q28_salted_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The salted two-phase plan must equal the direct GROUP BY exactly:
    // count/sum over integer cents, order-independent min/max.
    "q57_salted_agg" ->
      """SELECT l_returnflag,
        |  count(*)::BIGINT AS n_items,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))::BIGINT AS sum_qty_cents,
        |  min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS min_price_cents,
        |  max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS max_price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Thresholds are floor(num * 2^63 / den) for cumulative 8/10 and 9/10.
    "q30_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
        |         < 7378697629483820646::UBIGINT THEN 'train'
        |       WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
        |         < 8301034833169298227::UBIGINT THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Latest click at-or-before each purchase; ties broken by larger click
    // id — mirrors the window ordering of AsOf.joinPrior exactly.
    "q29_asof_attribution" ->
      """WITH purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT purchase_id, user_id, click_id FROM (
        |  SELECT p.purchase_id, p.user_id, c.event_id AS click_id,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM purchases p LEFT JOIN clicks c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts)
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    "q27_theta_supplier_sets" ->
      """WITH h1 AS (SELECT DISTINCT l_suppkey FROM lineitem
        |            WHERE year(l_shipdate) = 1995 AND month(l_shipdate) <= 6),
        |h2 AS (SELECT DISTINCT l_suppkey FROM lineitem
        |       WHERE year(l_shipdate) = 1995 AND month(l_shipdate) > 6)
        |SELECT
        |  (SELECT count(*) FROM h1)::BIGINT AS n_h1,
        |  (SELECT count(*) FROM h2)::BIGINT AS n_h2,
        |  (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2))::BIGINT AS n_both,
        |  (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2))::BIGINT AS n_only_h1,
        |  (SELECT count(*) FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1))::BIGINT AS n_only_h2""".stripMargin,
    "q134_winsorize" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |b AS (
        |  SELECT g,
        |    max(CASE WHEN rn = (n - 1) * 1 // 10 + 1 THEN v END) AS lo,
        |    max(CASE WHEN rn = (n - 1) * 9 // 10 + 1 THEN v END) AS hi
        |  FROM r GROUP BY g)
        |SELECT v.g AS l_returnflag, count(*)::BIGINT AS n,
        |  sum(CASE WHEN v.v < b.lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
        |  sum(CASE WHEN v.v > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
        |  sum(CASE WHEN v.v < b.lo THEN b.lo WHEN v.v > b.hi THEN b.hi
        |           ELSE v.v END)::BIGINT AS sum_winsorized
        |FROM v JOIN b USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q130_exact_quantiles" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |q AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) AS t(q_num, q_den))
        |SELECT r.g AS l_returnflag, q.q_num, q.q_den,
        |  ((r.n - 1) * q.q_num) // q.q_den + 1 AS k, r.v AS value
        |FROM r JOIN q ON r.rn = ((r.n - 1) * q.q_num) // q.q_den + 1
        |ORDER BY l_returnflag, q_den, q_num""".stripMargin,
    // Every evaluator restated as integer counts over the same rows; the
    // fractions are single IEEE divisions of those integers.
    "q176_sketch_eval_matrix" ->
      """SELECT event_type,
        |  (count(*) FILTER (WHERE value <= 50.0))::DOUBLE
        |    / count(value) AS rank_50,
        |  (count(*) FILTER (WHERE value <= 25.0))::DOUBLE
        |    / count(value) AS pmf_lo,
        |  ((count(*) FILTER (WHERE value <= 75.0))
        |   - (count(*) FILTER (WHERE value <= 25.0)))::DOUBLE
        |    / count(value) AS pmf_mid,
        |  (count(value) - count(*) FILTER (WHERE value <= 75.0))::DOUBLE
        |    / count(value) AS pmf_hi,
        |  (count(*) FILTER (WHERE day(ts) = 15))::BIGINT AS est_day15,
        |  count(ts)::BIGINT AS stream_len
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_quantile_sketch" ->
      """SELECT event_type, count(value)::BIGINT AS n,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q25_quantile_rollup" ->
      """SELECT count(value)::BIGINT AS n,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.99) AS p99
        |FROM events""".stripMargin,
    // Exact-mode CDF replica: count(v <= sp)/n per split point (same IEEE
    // long/long division), bucket 6 is the sketch's trailing 1.0. NULL
    // values are excluded throughout, mirroring the sketch (kll_init_agg
    // skips nulls; an all-null type yields a null sketch -> no rows).
    "q46_value_histogram" ->
      """WITH sp AS (SELECT * FROM (VALUES (0, 1.0), (1, 5.0), (2, 10.0),
        |  (3, 50.0), (4, 100.0), (5, 200.0)) t(bucket, sp)),
        |ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |cnt AS (
        |  SELECT e.event_type, s.bucket,
        |    sum(CASE WHEN e.value <= s.sp THEN 1 ELSE 0 END)::BIGINT AS c,
        |    count(*)::BIGINT AS n
        |  FROM ev e CROSS JOIN sp s
        |  GROUP BY 1, 2)
        |SELECT event_type, bucket::INT AS bucket,
        |  CAST(floor((c::DOUBLE / n) * 1000000000 + 0.5) AS BIGINT) AS cdf_e9
        |FROM cnt
        |UNION ALL
        |SELECT DISTINCT event_type, 6 AS bucket, 1000000000::BIGINT AS cdf_e9
        |FROM ev
        |ORDER BY event_type, bucket""".stripMargin,

    "q115_event_drift" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT day, event_type, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily)
        |SELECT day, event_type, n,
        |  coalesce(prev_n, 0)::BIGINT AS prev_n,
        |  coalesce(n * 1000000 // prev_n, 0)::BIGINT AS ratio_e6,
        |  (prev_n IS NOT NULL AND (n * 1000000 // prev_n < 500000
        |    OR n * 1000000 // prev_n > 2000000)) AS alert
        |FROM l ORDER BY day, event_type""".stripMargin,

    // NOT EXISTS (not NOT IN) mirrors left_anti null semantics.
    "q109_cdc_apply" ->
      """WITH snap AS (
        |  SELECT c_custkey AS k,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acct_cents,
        |    c_mktsegment AS segment
        |  FROM customer),
        |ch AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS k,
        |    o_orderdate, o_orderkey,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS acct_cents,
        |    o_orderpriority AS segment
        |  FROM orders),
        |latest AS (
        |  SELECT k, op, acct_cents, segment FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY k ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT k, acct_cents, segment FROM snap s
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = s.k)
        |UNION ALL
        |SELECT k, acct_cents, segment FROM latest WHERE op <> 'D'
        |ORDER BY k""".stripMargin,

    "q110_scd2_intervals" ->
      """WITH perday AS (
        |  SELECT k, d, price_cents, status FROM (
        |    SELECT o_custkey AS k,
        |      CAST(date_trunc('day', o_orderdate) AS DATE) AS d, o_orderkey,
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |      o_orderstatus AS status,
        |      row_number() OVER (
        |        PARTITION BY o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE)
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT k, d AS valid_from,
        |  lead(d) OVER (PARTITION BY k ORDER BY d) AS valid_to,
        |  lead(d) OVER (PARTITION BY k ORDER BY d) IS NULL AS is_current,
        |  price_cents, status
        |FROM perday ORDER BY k, valid_from""".stripMargin,

    // q110's intervals + the containment left join, aggregated.
    "q169_scd2_temporal_join" ->
      """WITH perday AS (
        |  SELECT k, d, status FROM (
        |    SELECT o_custkey AS k,
        |      CAST(date_trunc('day', o_orderdate) AS DATE) AS d, o_orderkey,
        |      o_orderstatus AS status,
        |      row_number() OVER (
        |        PARTITION BY o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE)
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |iv AS (
        |  SELECT k, d AS valid_from,
        |    lead(d) OVER (PARTITION BY k ORDER BY d) AS valid_to, status
        |  FROM perday),
        |e AS (
        |  SELECT user_id AS k, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events)
        |SELECT coalesce(i.status, 'none') AS status,
        |  count(*)::BIGINT AS n_events,
        |  count(DISTINCT e.k)::BIGINT AS n_users
        |FROM e LEFT JOIN iv i ON e.k = i.k AND e.d >= i.valid_from
        |  AND (i.valid_to IS NULL OR e.d < i.valid_to)
        |GROUP BY 1 ORDER BY status""".stripMargin
  )
}
