package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/**
 * Loaders for the harness's TPC-H-ish parquet tables (see TESTDATA.md).
 *
 * Everything is a plain `spark.read.parquet` — filters and column pruning
 * push down to the scan — except `events`, whose `ts` column has been
 * written by the driver as BOTH parquet TIMESTAMP(NANOS) (rounds 1–6) and
 * plain timestamp[us] (round 7+) across fixture regenerations. Spark 4
 * refuses nano timestamps unless they are read as raw longs, while the
 * micros encoding reads natively as TimestampType — so the loader inspects
 * the file footer once per path (schema inference throws on NANOS) and
 * picks the matching explicit schema. Either way the caller sees the same
 * shape: a proper microsecond TimestampType `ts`. The nanos branch converts
 * with integer arithmetic (no double rounding), and the explicit schemas
 * keep the workaround scoped to this one read — no session conf is touched
 * (round-1 ADVICE: `spark.sql.legacy.parquet.nanosAsLong` leaked into
 * every later read).
 */
object Tables {

  /** Per-path cache of each fixture table's parquet schema — one footer
   * inference per path per JVM instead of one per DataFrame construction.
   * Every query function rebuilds its DataFrames from `spark.read`, and a
   * schema-less `spark.read.parquet` pays driver-side file listing PLUS a
   * footer read to infer the schema on EVERY construction; across a
   * ~257-query bench pass (and at 100 TB, where inference over a large
   * file set is a real driver job) that is pure fixed overhead. The
   * explicit-schema read skips inference entirely; the schema is the one
   * Spark itself inferred for the path, so plans and results are
   * bit-identical (asserted by SchemaCacheSpec). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Invalidation hook for the per-path schema caches: the caches assume
   * IMMUTABLE inputs — a parquet file rewritten in place at an unchanged
   * path with a DIFFERENT schema would otherwise keep being read with the
   * stale cached schema (wrong/null columns) where a plain
   * `spark.read.parquet` would re-infer. Same assumption as Spark's own
   * table cache. Schemas are metadata, not results: operators cache no
   * results, but pipelines that rewrite fixtures in place with a new
   * schema must call this hook. Harness fixtures are immutable per run,
   * so nothing calls it on the bench path. */
  def clearSchemaCache(): Unit = { schemaCache.clear(); tsTypeCache.clear() }

  /** Schema-cached parquet read. Assumes the file set at `path` is
   * immutable for the JVM's lifetime (see [[clearSchemaCache]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  private def eventsSchemaWithTs(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Fixed TESTDATA.md schema of `events`, with `ts` read as raw nano longs
   * (the only way Spark 4 will read parquet TIMESTAMP(NANOS)). */
  private val eventsRawSchema = eventsSchemaWithTs(LongType)

  /** Per-path cache of the fixture's `ts` encoding — one footer read per
   * path per JVM, not one per DataFrame construction. */
  private val tsTypeCache = new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  /** The `ts` type Spark infers from `dir/events.parquet`'s footer:
   *  - `TimestampNTZType` for plain timestamp[us] (the round-7+ fixture —
   *    pyarrow writes without isAdjustedToUTC, so Spark infers NTZ);
   *  - `TimestampType` if a future regeneration writes UTC-adjusted micros;
   *  - `LongType` when inference THROWS — parquet TIMESTAMP(NANOS) (the
   *    round-1..6 fixture), readable only via an explicit raw-long schema.
   * Footer-only check — no data is scanned. */
  private def fixtureTsType(spark: SparkSession, dir: String): DataType =
    tsTypeCache.computeIfAbsent(s"$dir/events.parquet", { path =>
      try spark.read.parquet(path).schema("ts").dataType match {
        case t @ (TimestampType | TimestampNTZType) => t
        case _ => LongType // raw-long nanos written as a plain int64
      } catch { case scala.util.control.NonFatal(_) => LongType }
    })

  /** `events` with `ts` as TimestampType (micros since epoch), whichever
   * encoding the fixture was regenerated with. The nanos branch converts
   * with integer `div 1000` (no double rounding); the NTZ branch casts
   * NTZ→LTZ, which under the suite-wide UTC session timezone preserves the
   * micros value bit-for-bit and matches how the DuckDB oracle reads the
   * same file (naive timestamps). */
  def events(spark: SparkSession, dir: String): DataFrame =
    fixtureTsType(spark, dir) match {
      case LongType =>
        spark.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType =>
        spark.read.schema(eventsSchemaWithTs(TimestampType)).parquet(s"$dir/events.parquet")
      case t =>
        spark.read.schema(eventsSchemaWithTs(t)).parquet(s"$dir/events.parquet")
          .withColumn("ts", col("ts").cast(TimestampType))
    }

  /** `events` as a bounded STREAM (file source) — same encoding detection
   * as [[events]] (resolved once, batch-side, before the stream starts).
   * Drive with `Trigger.AvailableNow` to process the table once through
   * the streaming engine; useful for proving stream/batch parity on the
   * same files. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // The file stream source insists its base path is a DIRECTORY, and
    // events.parquet is a single file — point basePath at the parent and
    // glob the one file.
    val reader = spark.readStream.option("basePath", dir)
    fixtureTsType(spark, dir) match {
      case LongType =>
        reader.schema(eventsRawSchema).parquet(s"$dir/{events.parquet}")
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType =>
        reader.schema(eventsSchemaWithTs(TimestampType)).parquet(s"$dir/{events.parquet}")
      case t =>
        reader.schema(eventsSchemaWithTs(t)).parquet(s"$dir/{events.parquet}")
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Fixed TESTDATA.md schema of `orders` (file streams require an
   * explicit schema). */
  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** `orders` as a bounded STREAM (file source) — the changeset shape of
   * streaming CDC. Same single-file glob workaround as [[eventsStream]]. */
  def ordersStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(ordersSchema).option("basePath", dir)
      .parquet(s"$dir/{orders.parquet}")

  /** Fixed TESTDATA.md schema of `documents` (file streams require an
   * explicit schema — no inference pass over a possibly-growing dir). */
  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `documents` as a bounded STREAM (file source) — the ingest shape of a
   * production corpus: a directory that accumulates document files, tailed
   * incrementally. Same single-file glob workaround as [[eventsStream]]. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema).option("basePath", dir)
      .parquet(s"$dir/{documents.parquet}")
}
