package perfbench

import java.nio.charset.StandardCharsets

import com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{theta_union => _, _}
import org.apache.spark.unsafe.Platform

import graft.bloom.functions._
import graft.freq.functions._
import graft.hll.functions._
import graft.kll.functions._
import graft.theta.functions._

/**
 * Expectations and output checks shared by the two sketch workloads. Every
 * expected value comes from plain Spark over the raw events (exact distinct
 * counts, exact quantiles, exact item counts) or from this file's own
 * reference sketch builder, never from the library under test.
 */
object Sketches {
  val RelativeSD = 0.05
  /** HLL precision for [[RelativeSD]]: p = ceil(2·log2(1.106/sd)). */
  val P: Int = math.ceil(2.0 * math.log(1.106 / RelativeSD) / math.log(2.0)).toInt
  /** Relative standard error of an HLL sketch with 2^p registers. */
  val HllRse: Double = 1.04 / math.sqrt((1 << P).toDouble)
  /** Relative standard error of a theta sketch at the default lgK = 12. */
  val ThetaRse: Double = 1.0 / math.sqrt(4096.0)
  /** Per-group bound on |estimate − exact|, in standard errors. */
  val MaxSigmas = 6.0
  /** Bound on the RMS relative error over groups of ≥ 50 distinct values,
   * in standard errors, applied when at least 30 such groups exist. */
  val MaxRmsSigmas = 2.0
  /** KLL rank tolerance for the median (k = 200 has ~1.65 % rank error). */
  val KllRankEps = 0.05

  // Seeds of the sketch hash: the library's documented wire contract
  // (type-tagged xxHash64 with the reference library's default seed).
  private val HashSeed = 6705405522910076594L
  private val StringTag = -8468821688391060513L

  def hashOf(v: Any): Long = v match {
    case l: Long => XXH64.hashLong(l, HashSeed)
    case s: String =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, XXH64.hashLong(StringTag, HashSeed))
  }

  /** Dense HLL++ registers: index = top p bits, rank = leading zeros of the rest + 1. */
  def referenceGraft(values: Iterable[Any]): Array[Byte] = {
    val regs = new Array[Byte](1 << P)
    values.foreach { v =>
      val x = hashOf(v)
      val idx = (x >>> (64 - P)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros((x << P) | (1L << (P - 1))) + 1).toByte
      if (rank > regs(idx)) regs(idx) = rank
    }
    Array[Byte]('G', 1, P.toByte) ++ regs
  }

  /** The same registers through stream-lib's own dense HyperLogLogPlus. */
  def referenceStrm(values: Iterable[Any]): Array[Byte] = {
    val h = new HyperLogLogPlus(P, 0)
    values.foreach(v => h.offerHashed(hashOf(v)))
    h.getBytes
  }

  /** Exact per-group values of one grain (an in-memory table) and the raw
   * values of a seeded sample of its groups. */
  final case class Exact(keys: Seq[String], table: DataFrame,
      samples: Map[Seq[Any], Seq[Any]], sampleRows: DataFrame, groups: Long)

  private def keyOf(r: Row, keys: Seq[String]): Seq[Any] = keys.map(k => r.getAs[Any](k))

  /** Exact expectations for one grain, computed in plain Scala over the
   * collected events (`rows`, the columns day, source, user_id, value,
   * item): row count, exact distinct count of `value`, the exact median band
   * (nearest-rank quantiles at 0.5 ± [[KllRankEps]] when `quantiles`, else
   * min/max), the top item (by count, then item) and its count; plus the
   * raw values of about `sampleGroups` seeded groups. */
  def exact(spark: SparkSession, seed: Long, rows: Array[Row], keys: Seq[String], value: String,
      quantiles: Boolean, sampleGroups: Int): Exact = {
    import org.apache.spark.sql.types._
    final class G {
      var n = 0L
      val distinct = new java.util.HashSet[Any]()
      val values = new scala.collection.mutable.ArrayBuffer[Double]()
      val items = new java.util.HashMap[String, java.lang.Long]()
    }
    val groups = new java.util.HashMap[Seq[Any], G]()
    val schema = rows.head.schema
    val (ki, vi, xi, ii) = (keys.map(schema.fieldIndex), schema.fieldIndex(value),
      schema.fieldIndex("value"), schema.fieldIndex("item"))
    rows.foreach { r =>
      val g = groups.computeIfAbsent(ki.map(r.get), _ => new G)
      g.n += 1
      g.distinct.add(r.get(vi))
      g.values += r.getDouble(xi)
      g.items.merge(r.getString(ii), 1L, (a, b) => a + b)
    }
    def rank(sorted: Array[Double], q: Double): Double =
      sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))
    import scala.jdk.CollectionConverters._
    val exactRows = groups.asScala.toSeq.map { case (k, g) =>
      val v = g.values.toArray.sorted
      val (lo, hi) = if (quantiles) (rank(v, 0.5 - KllRankEps), rank(v, 0.5 + KllRankEps)) else (v.head, v.last)
      val (topItem, topCount) = g.items.asScala.maxBy { case (item, c) => (c.longValue, item) }
      Row.fromSeq(k ++ Seq(g.n, g.distinct.size.toLong, lo, hi, topItem, topCount.longValue))
    }
    val fields = keys.map(k => rows.head.schema(k)) ++ Seq(
      StructField("n", LongType), StructField("d", LongType), StructField("qlo", DoubleType),
      StructField("qhi", DoubleType), StructField("top_item", StringType), StructField("top_count", LongType))
    val keep = math.max(1, groups.size / sampleGroups)
    val sampled = groups.asScala.keys.filter(k => math.floorMod(XXH64.hashLong(k.hashCode.toLong, seed), keep.toLong) == 0).toSet
    val sampleRows = groups.asScala.toSeq.filter(kv => sampled(kv._1)).flatMap { case (k, g) =>
      g.distinct.asScala.map(v => Row.fromSeq(k :+ v))
    }
    val sampleSchema = StructType(keys.map(k => rows.head.schema(k)) :+ rows.head.schema(value).copy(name = "v"))
    Exact(keys, spark.createDataFrame(exactRows.asJava, StructType(fields)),
      groups.asScala.collect { case (k, g) if sampled(k) => k -> g.distinct.asScala.toSeq }.toMap,
      spark.createDataFrame(sampleRows.asJava, sampleSchema), groups.size.toLong)
  }

  /** Seeded fingerprint of the reference sketch bytes of the sampled groups. */
  def fingerprint(seed: Long, exacts: Seq[Exact]): String =
    java.lang.Long.toHexString(exacts.flatMap { e =>
      e.samples.toSeq.sortBy(_._1.mkString("|")).map { case (k, vs) =>
        XXH64.hashLong(java.util.Arrays.hashCode(referenceGraft(vs)).toLong, k.mkString("|").hashCode)
      }
    }.foldLeft(seed)((a, b) => XXH64.hashLong(b, a)))

  /** Reads every path (outputs of one op, so one schema, inferred once)
   * into one frame with a `_src` column naming its path. */
  def readAll(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val schema = spark.read.parquet(paths.head).schema
    paths.map(p => spark.read.schema(schema).parquet(p).withColumn("_src", lit(p))).reduce(_ union _)
  }

  private def rse(family: String): Double = if (family == "theta") ThetaRse else HllRse

  /** Per-group failure condition and squared relative error of one sketch column. */
  private def condition(family: String): (Column, Column) = {
    val sk = col(family)
    val d = col("d")
    def distinct(est: Column) =
      (abs(est - d) > lit(MaxSigmas * rse(family)) * d + lit(2), when(d >= 50, pow((est - d) / d, 2)))
    family match {
      case f if f.startsWith("hll_") => distinct(hll_cardinality(sk, f.stripPrefix("hll_")))
      case "theta" => distinct(theta_estimate(sk))
      case "kll" =>
        val q = kll_quantile(sk, 0.5)
        (kll_n(sk) =!= col("n") || q < col("qlo") || q > col("qhi"), lit(null).cast("double"))
      case "freq" =>
        (freq_stream_length(sk) =!= col("n") ||
          abs(freq_estimate(sk, col("top_item")) - col("top_count")) > freq_max_error(sk),
          lit(null).cast("double"))
      case "bloom" => (lit(false), lit(null).cast("double"))
    }
  }

  /**
   * Checks freshly built sketch tables (one column per family) against the
   * exact values: every group present once; per group, distinct estimates
   * within [[MaxSigmas]] standard errors, the KLL median inside its exact
   * rank band, the frequent-items count of the top item within the sketch's
   * error bound, stream lengths exact; over groups of ≥ 50 distinct values
   * an RMS relative error within [[MaxRmsSigmas]] standard errors; STRM and
   * GRAFT bytes of the sampled groups equal to the reference sketches; no
   * bloom false negative on the sampled groups' values.
   */
  def checkBuilt(spark: SparkSession, ex: Exact, families: Seq[String],
      paths: Seq[String]): Map[String, String] = {
    val keys = ex.keys
    val out = readAll(spark, paths)
    val conds = families.map(f => f -> condition(f)).toMap
    val aggs = Seq(count(lit(1)).as("rows"),
      sum(when(col("d").isNull || col("_src").isNull, 1).otherwise(0)).as("unmatched")) ++
      families.flatMap { f =>
        val (bad, sq) = conds(f)
        Seq(sum(when(col(f).isNull || coalesce(bad, lit(true)), 1).otherwise(0)).as(s"bad_$f"),
          count(sq).as(s"nbig_$f"), sqrt(avg(sq)).as(s"rms_$f"))
      }
    val stats = out.join(ex.table, keys, "full_outer")
      .groupBy(col("_src")).agg(aggs.head, aggs.tail: _*).collect()
    val failures = scala.collection.mutable.Map[String, String]()
    stats.find(_.isNullAt(0)).foreach(r =>
      paths.foreach(p => failures(p) = s"${r.getAs[Long]("rows")} expected groups missing"))
    paths.foreach { p =>
      stats.find(r => !r.isNullAt(0) && r.getString(0) == p) match {
        case None => failures.getOrElseUpdate(p, "no rows")
        case Some(r) =>
          val problems = (if (r.getAs[Long]("rows") != ex.groups)
            Seq(s"${r.getAs[Long]("rows")} groups, expected ${ex.groups}") else Nil) ++
            families.flatMap { f =>
              val bad = r.getAs[Long](s"bad_$f")
              val rms = Option(r.getAs[java.lang.Double](s"rms_$f")).map(_.doubleValue).getOrElse(0.0)
              if (bad > 0) Some(s"$bad groups outside the $f bound")
              else if (r.getAs[Long](s"nbig_$f") >= 30 && rms > MaxRmsSigmas * rse(f))
                Some(f"$f RMS relative error $rms%.4f > $MaxRmsSigmas%.0f x ${rse(f)}%.4f")
              else None
            }
          if (problems.nonEmpty) failures.getOrElseUpdate(p, problems.mkString("; "))
      }
    }
    val refs = families.filter(f => f == "hll_STRM" || f == "hll_GRAFT")
    if (refs.nonEmpty) {
      out.join(ex.sampleRows.select(keys.map(col): _*).distinct(), keys).collect().foreach { r =>
        val k = keyOf(r, keys)
        refs.foreach { f =>
          val want = if (f == "hll_STRM") referenceStrm(ex.samples(k)) else referenceGraft(ex.samples(k))
          if (!java.util.Arrays.equals(r.getAs[Array[Byte]](f), want))
            failures.getOrElseUpdate(r.getAs[String]("_src"),
              s"$f bytes of group ${k.mkString(",")} differ from the reference sketch")
        }
      }
    }
    if (families.contains("bloom")) {
      out.join(ex.sampleRows, keys).where(!bloom_might_contain(col("bloom"), col("v").cast("string")))
        .groupBy(col("_src")).count().collect().foreach { r =>
          failures.getOrElseUpdate(r.getString(0), s"${r.getLong(1)} bloom false negatives")
        }
    }
    failures.toMap
  }

  def kernelInputs(ctx: Ctx): Kernels.Inputs = {
    val rows = ctx.spark.read.parquet(ctx.input("events"))
      .select("user_id", "value", "item").limit(20000).collect()
    Kernels.Inputs(rows.map(_.getLong(0)), rows.map(_.getDouble(1)), rows.map(_.getString(2)),
      Corpus.kernelDocs(ctx.seed))
  }
}
