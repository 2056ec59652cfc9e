package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{theta_union => _, _}
import org.apache.spark.sql.types._

import graft.bloom.functions._
import graft.freq.functions._
import graft.hll.functions._
import graft.kll.functions._
import graft.theta.functions._

/**
 * sketches: the sketch layer both ways.
 *
 * Ingest ops build every sketch family from raw events and persist the
 * sketch tables, at two grains: a few hundred (day, source) groups of high
 * cardinality each (dense sketches) and one group per user (~5 k groups
 * of low cardinality: sparse sketches, per-group overhead). Per grain one op builds the three HLL formats and one the
 * theta, KLL, frequent-items and bloom sketches. Sketch update and
 * serialize dominate; little happens outside the tasks.
 *
 * Rollup ops only re-aggregate a stored table of sketches per (day,
 * source, user bucket), built at set-up with the library's own aggregates:
 * HLL merge + estimate in every format; row-wise HLL union, intersection
 * and format conversion with theta intersection and difference; and the
 * theta, KLL, frequent-items and bloom merges. Deserialize, merge and estimate
 * dominate, so a change that speeds building by costing storage or merging
 * shows here.
 */
object SketchWorkload extends Workload {
  val name = "sketches"
  val Rows = 200000L
  val Users = 5000L
  val Items = 50000L
  /** User buckets of the stored rollup table. */
  val Buckets = 64
  val RollupBloomItems = 256L

  final case class Grain(name: String, keys: Seq[String], value: String, bloomItems: Long,
      quantiles: Boolean, sampleGroups: Int)
  val Dense = Grain("dense", Seq("day", "source"), "user_id", 8192L, quantiles = true, 8)
  val Sparse = Grain("sparse", Seq("user_id"), "item", 64L, quantiles = false, 50)
  val Grains = Seq(Dense, Sparse)
  val Tables: Map[String, Seq[String]] = Map(
    "hll" -> Seq("hll_STRM", "hll_DS", "hll_GRAFT"),
    "sets" -> Seq("theta", "kll", "freq", "bloom"))
  val Formats = Seq("STRM", "DS", "GRAFT")

  def sketch(family: String, value: Column, bloomItems: Long): Column = family match {
    case f if f.startsWith("hll_") => hll_init_agg(value, Sketches.RelativeSD, f.stripPrefix("hll_"))
    case "theta" => theta_init_agg(value)
    case "kll" => kll_init_agg(col("value"))
    case "freq" => freq_init_agg(col("item"))
    case "bloom" => bloom_init_agg(value, bloomItems)
  }

  private def ingestOps(ctx: Ctx, events: String): Seq[Op] =
    for (g <- Grains; t <- Seq("hll", "sets")) yield Op(s"ingest_${g.name}_$t", spark => {
      val cols = Tables(t).map(f => sketch(f, col(g.value), g.bloomItems).as(f))
      ctx.read(events).groupBy(g.keys.map(col): _*).agg(cols.head, cols.tail: _*)
    })

  /** The s0 and s1 sketches of the same (day, bucket), side by side. */
  private def pairs(s: DataFrame): DataFrame = {
    def side(src: String, p: String) = s.where(col("source") === src)
      .select(Seq(col("day"), col("ub")) ++ Seq("STRM", "GRAFT", "theta").map(c => col(c).as(p + c)): _*)
    side("s0", "a_").join(side("s1", "b_"), Seq("day", "ub"))
  }

  private def rollupOps(ctx: Ctx, store: String): Seq[Op] = {
    def read(s: SparkSession) = ctx.read(store)
    Seq(
      Op("rollup_hll", s => read(s).groupBy("day")
        .agg(hll_merge(col("STRM"), "STRM").as("STRM"), hll_merge(col("DS"), "DS").as("DS"),
          hll_merge(col("GRAFT"), "GRAFT").as("GRAFT"))
        .select(col("day") +: Formats.map(f => hll_cardinality(col(f), f).as(s"est_$f")): _*)),
      Op("rollup_setops", s => pairs(read(s)).select(col("day"), col("ub"),
        hll_cardinality(hll_row_merge("STRM", col("a_STRM"), col("b_STRM")), "STRM").as("union_est"),
        hll_intersect_cardinality(col("a_STRM"), col("b_STRM"), "STRM").as("inter_est"),
        (hll_convert(col("a_STRM"), "STRM", "GRAFT") === col("a_GRAFT")).as("convert_ok"),
        theta_estimate(theta_intersect(col("a_theta"), col("b_theta"))).as("theta_inter_est"),
        theta_estimate(theta_a_not_b(col("a_theta"), col("b_theta"))).as("theta_anotb_est"))),
      Op("rollup_sets", s => read(s).groupBy("day")
        .agg(theta_union(col("theta")).as("theta"), kll_merge(col("kll")).as("kll"),
          freq_merge(col("freq")).as("freq"), bloom_merge(col("bloom"), RollupBloomItems).as("bloom"))
        .select(col("day"), theta_estimate(col("theta")).as("theta_est"),
          kll_quantile(col("kll"), 0.5).as("q50"), kll_n(col("kll")).as("n_est"),
          col("freq"), freq_items(col("freq"), 100L).as("items"), col("bloom"),
          bloom_might_contain(col("bloom"), lit("item_0")).as("has_item_0"))))
  }

  def ops(ctx: Ctx): Seq[Op] = ingestOps(ctx, ctx.input("events")) ++ rollupOps(ctx, ctx.input("store"))

  private def buildStore(spark: SparkSession, events: String, buckets: Int, out: String): Unit =
    Gen.writeParquet(spark.read.parquet(events)
      .withColumn("ub", pmod(col("user_id"), lit(buckets.toLong)).cast("int"))
      .groupBy("day", "source", "ub").agg(
        hll_init_agg(col("user_id"), Sketches.RelativeSD, "STRM").as("STRM"),
        hll_init_agg(col("user_id"), Sketches.RelativeSD, "DS").as("DS"),
        hll_init_agg(col("user_id"), Sketches.RelativeSD, "GRAFT").as("GRAFT"),
        theta_init_agg(col("user_id")).as("theta"),
        kll_init_agg(col("value")).as("kll"),
        freq_init_agg(col("item")).as("freq"),
        bloom_init_agg(col("item"), RollupBloomItems).as("bloom")), out)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val parts = spark.sparkContext.defaultParallelism
    Gen.writeParquet(Gen.events(spark, ctx.seed, Rows, Users, Items, parts), ctx.input("events"))
    buildStore(spark, ctx.input("events"), Buckets, ctx.input("store"))
  }

  private var ingest = Map.empty[String, Sketches.Exact]
  private var rollupDay: Sketches.Exact = _
  private var bloomSample: DataFrame = _
  private var pairsExact: DataFrame = _
  private var pairCount = 0L
  private var storeRows = 0L

  /** Exact values in plain Scala over the collected events. */
  def expect(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = spark.read.parquet(ctx.input("events"))
      .select("day", "source", "user_id", "value", "item").collect()
    ingest = Grains.map(g => g.name -> Sketches.exact(spark, ctx.seed, rows,
      g.keys, g.value, g.quantiles, g.sampleGroups)).toMap
    rollupDay = Sketches.exact(spark, ctx.seed, rows, Seq("day"), "user_id", quantiles = true, 5)
    // Distinct users of s0 and s1 per (day, bucket), for the set operations.
    val sides = mutable.HashMap[(Int, Int, String), mutable.HashSet[Long]]()
    rows.foreach { r =>
      val src = r.getString(1)
      if (src == "s0" || src == "s1") {
        val u = r.getLong(2)
        sides.getOrElseUpdate((r.getInt(0), math.floorMod(u, Buckets.toLong).toInt, src),
          mutable.HashSet[Long]()) += u
      }
    }
    val pairRows = sides.keys.collect { case (d, b, "s0") if sides.contains((d, b, "s1")) =>
      val (a, c) = (sides((d, b, "s0")), sides((d, b, "s1")))
      val inter = a.count(c).toLong
      Row(d, b, a.size.toLong, c.size.toLong, inter, a.size + c.size - inter, a.size - inter)
    }.toSeq
    val pairSchema = StructType(Seq("day", "ub").map(StructField(_, IntegerType)) ++
      Seq("na", "nb", "ninter", "nunion", "nanotb").map(StructField(_, LongType)))
    pairsExact = spark.createDataFrame(pairRows.asJava, pairSchema)
    pairCount = pairRows.size.toLong
    val sample = rows.indices.filter(i => math.floorMod(i.toLong * 31 + ctx.seed, 997L) == 0)
      .map(i => Row(rows(i).getInt(0), rows(i).getString(4)))
    bloomSample = spark.createDataFrame(sample.asJava,
      StructType(Seq(StructField("day", IntegerType), StructField("item", StringType))))
    storeRows = spark.read.parquet(ctx.input("store")).count()
  }

  /** |est − exact| within [[Sketches.MaxSigmas]] standard errors of `scale`. */
  private def within(est: Column, exact: Column, rse: Double, scale: Column): Column =
    abs(est - exact) <= lit(Sketches.MaxSigmas * rse) * scale + lit(2)

  private def checkRollup(c: Ctx, op: String, paths: Seq[String]): Map[String, String] = {
    val spark = c.spark
    val out = Sketches.readAll(spark, paths)
    val (hll, theta) = (Sketches.HllRse, Sketches.ThetaRse)
    val day = rollupDay.table
    val (joined, ok, expectedRows) = op match {
      case "rollup_hll" =>
        (out.join(day, Seq("day"), "full_outer"),
          Formats.map(f => within(col(s"est_$f"), col("d"), hll, col("d"))).reduce(_ && _), rollupDay.groups)
      case "rollup_setops" =>
        (out.join(pairsExact, Seq("day", "ub"), "full_outer"),
          within(col("union_est"), col("nunion"), hll, col("nunion")) &&
            within(col("inter_est"), col("ninter"), hll, col("na") + col("nb")) && col("convert_ok") &&
            within(col("theta_inter_est"), col("ninter"), theta, col("nunion")) &&
            within(col("theta_anotb_est"), col("nanotb"), theta, col("nunion")), pairCount)
      case "rollup_sets" =>
        val misses = out.join(bloomSample, "day").where(!bloom_might_contain(col("bloom"), col("item")))
          .groupBy("_src", "day").agg(count(lit(1)).as("fn"))
        (out.join(day, Seq("day"), "full_outer").join(misses, Seq("_src", "day"), "left"),
          within(col("theta_est"), col("d"), theta, col("d")) &&
            col("n_est") === col("n") && col("q50").between(col("qlo"), col("qhi")) &&
            freq_stream_length(col("freq")) === col("n") &&
            abs(freq_estimate(col("freq"), col("top_item")) - col("top_count")) <= freq_max_error(col("freq")) &&
            (col("top_count") < lit(100L) + freq_max_error(col("freq")) ||
              array_contains(col("items.item"), col("top_item"))) &&
            col("fn").isNull, rollupDay.groups)
    }
    val stats = joined.groupBy(col("_src")).agg(count(lit(1)).as("rows"),
      sum(when(coalesce(ok, lit(false)), 0).otherwise(1)).as("bad")).collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    paths.flatMap { p =>
      stats.get(Some(p)) match {
        case _ if stats.contains(None) => Some(p -> s"${stats(None)._1} expected rows missing")
        case None => Some(p -> "no rows")
        case Some((rows, _)) if rows != expectedRows => Some(p -> s"$rows rows, expected $expectedRows")
        case Some((_, bad)) if bad > 0 => Some(p -> s"$bad rows outside the bound")
        case _ => None
      }
    }.toMap
  }

  def check(c: Ctx, op: String, paths: Seq[String]): Map[String, String] =
    if (op.startsWith("ingest_")) {
      val Array(_, grain, table) = op.split('_')
      Sketches.checkBuilt(c.spark, ingest(grain), Tables(table), paths)
    } else checkRollup(c, op, paths)

  def provenance(ctx: Ctx): Map[String, Any] = Map(
    "rows" -> Rows, "users" -> Users, "items" -> Items,
    "input_bytes" -> Harness.dirBytes(new java.io.File(ctx.input("events"))),
    "user_skew" -> "u^2 power law", "item_skew" -> "u^3 power law",
    "ingest_groups" -> ingest.map { case (g, e) => g -> e.groups },
    "relative_sd" -> Sketches.RelativeSD,
    "sample_fingerprint" -> Sketches.fingerprint(ctx.seed, Grains.map(g => ingest(g.name))),
    "rollup_user_buckets" -> Buckets, "stored_sketch_rows" -> storeRows,
    "store_bytes" -> Harness.dirBytes(new java.io.File(ctx.input("store"))),
    "rollup_formats" -> (Formats ++ Seq("theta", "kll", "freq", "bloom")))

  def kernelInputs(ctx: Ctx): Kernels.Inputs = Sketches.kernelInputs(ctx)
}
