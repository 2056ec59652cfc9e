package graft.dedup

import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The LSH banding core every banded near-dup operator shares:
 * [[Dedup.jaccardNearDupPairs]], [[Dedup.lshCalibrationAudit]],
 * [[Dedup.simhashNearDupPairs]] and the hyperplane-LSH mode of
 * [[graft.similarity.Similarity.cosineNearDupPairs]] all turn
 * (band, bucket, id) rows into candidate pairs through [[bucketPairs]],
 * and the exact block grid and `semanticDedup` split their pair space
 * with the same cell arithmetic ([[gridSelfJoin]]).
 */
private[graft] object Banding {

  /** `maxBucketSize` for operators whose guarantee needs every in-bucket
   * pair: SimHash (Hamming ≤ 3 completeness) and hyperplane LSH. */
  val Uncapped: Int = Int.MaxValue

  /** The fast-path band key: xxhash64 of band `b`'s `rows`-wide slice of
   * an integer signature array. */
  def bandKey(sig: Column, b: Int, rows: Int): Column =
    xxhash64(lit(b), slice(sig, b * rows + 1, rows))

  /**
   * Distinct (id_a < id_b) candidate pairs of ids sharing a
   * (band, bucket). One aggregation reads the banded rows once: each
   * group collects its members through [[CollectListCapped]], and two
   * nested explodes stream the in-group pairs — member `pos` against the
   * members after it — inside one generated-code stage, never as a pair
   * array. Columns of `banded` besides band, bucket and id are a per-id
   * payload that rides the members: the output is (id_a, <payload>_a...,
   * id_b, <payload>_b...), so a caller can verify a pair without joining
   * back.
   *
   * @param maxBucketSize buckets holding more ids are skipped whole, never
   *   sampled; the collector keeps at most this many ids per group while
   *   still counting the true size. [[Uncapped]] keeps every bucket.
   * @param grid with `g > 1` every bucket's pair space splits into the
   *   g·(g+1)/2 cells of [[gridCells]], keyed (band, bucket, cell), so one
   *   hot bucket spreads across ~g²/2 tasks instead of one. Each id lands
   *   in the g cells its sub-block touches; the diagonal cell (i, i) pairs
   *   the ids within sub-block i and an off-diagonal cell (i, j) only the
   *   cross pairs of sub-blocks i and j, so every pair is enumerated once.
   *   The cells are repartitioned to an explicit count (the session's
   *   shuffle parallelism): the exchange carries slim (key, member) rows,
   *   and left implicit, AQE sizes it from those kilobytes and coalesces
   *   the quadratic explosion downstream of it back into one task
   *   (measured: semanticDedup at 10× data, grid 8, ran its ungridded 15 s
   *   until the count was pinned). A cap counts the whole bucket, so cap
   *   and grid cannot combine; no caller needs both.
   */
  def bucketPairs(banded: DataFrame, maxBucketSize: Int, grid: Int): DataFrame = {
    require(grid >= 1, s"bucketPairs: grid must be >= 1, got $grid")
    require(grid == 1 || maxBucketSize == Uncapped,
      "bucketPairs: a bucket cap cannot combine with a grid")
    val payload = banded.columns.toSeq.filterNot(Set("band", "bucket", "id"))
    val member = ("id" +: payload).map(col)
    def collected(rows: DataFrame, keys: Seq[Column]): DataFrame = rows
      .groupBy(keys: _*)
      .agg(GraftSqlBridge.column(CollectListCapped(
        GraftSqlBridge.expression(col("m")), maxBucketSize)
        .toAggregateExpression()).as("cl"))
      .filter(col("cl.total") > 1 && col("cl.total") <= maxBucketSize)
    // (l, r) member arrays per group: l pairs within itself unless r, the
    // other sub-block of an off-diagonal cell, is set. Grid 1 skips the
    // cell arithmetic: one cell per bucket would only add a hash, an
    // explode and a key column to every band row (measured +0.35 s on the
    // SimHash banding at sf0.1, 4 cores).
    val groups =
      if (grid == 1)
        collected(banded.select(col("band"), col("bucket"), struct(member: _*).as("m")),
            Seq(col("band"), col("bucket")))
          .select(col("cl.ids").as("l"), when(lit(false), col("cl.ids")).as("r"))
      else {
        val keys = Seq(col("band"), col("bucket"), col("cell"))
        val cells = banded
          .select(col("band"), col("bucket"),
            struct(member :+ subBlock(col("id"), grid).as("sub"): _*).as("m"))
          .withColumn("cell",
            explode(gridCells(col("m.sub"), grid, lo = lit(0), hi = lit(grid - 1))))
          .repartition(banded.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
        val (i, j) = (floor(col("cell") / grid), col("cell") % grid)
        def subBlockOf(s: Column): Column = filter(col("cl.ids"), m => m("sub") === s)
        collected(cells, keys)
          .select(subBlockOf(i).as("l"), when(i =!= j, subBlockOf(j)).as("r"))
      }
    val aFirst = col("a.id") < col("b.id")
    def side(m: Column, s: String): Seq[Column] =
      m.getField("id").as(s"id_$s") +: payload.map(c => m.getField(c).as(s"${c}_$s"))
    groups
      .select(col("l"), col("r"), posexplode(col("l")).as(Seq("pos", "a")))
      .select(col("a"), explode(
        coalesce(col("r"), slice(col("l"), col("pos") + 2, size(col("l"))))).as("b"))
      .select(side(when(aFirst, col("a")).otherwise(col("b")), "a") ++
        side(when(aFirst, col("b")).otherwise(col("a")), "b"): _*)
      // On the output columns, so their non-null constraint is visible to
      // every consumer's inferred join filters: references of the pair plan
      // then stay identical and share one exchange.
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /**
   * Grid cells `lo·g + hi` of sub-block `sub` with coordinates in
   * [lo, hi]: for cell (i, j), i <= j, the left side of a pair lives in
   * sub-block i and the right side in j. `lo = 0, hi = g−1` gives every
   * cell the sub-block touches, and a pair with sub-blocks (x <= y) meets
   * in exactly cell x·g + y.
   */
  private def gridCells(sub: Column, grid: Int, lo: Column, hi: Column): Column =
    transform(sequence(lo, hi), t => least(sub, t) * grid + greatest(sub, t))

  private def subBlock(id: Column, grid: Int): Column =
    pmod(xxhash64(id), lit(grid)).cast("int")

  /**
   * Every unordered pair of rows of `rows` sharing `keys`, with the
   * `payload` columns of both sides in place: output is
   * (keys..., id_a, <payload>_a..., id_b, <payload>_b...). Each pair
   * appears once, in either orientation (normalize the ids if order
   * matters; symmetric scores need not swap the payloads).
   *
   * With `grid = 1` this is the plain self-join on `keys` (the cross
   * product when `keys` is empty). With `grid = g > 1` ids sub-block by
   * hash into g blocks and the pair space of every key splits into
   * g·(g+1)/2 cells: the left side ships to cells (sub, j >= sub), the
   * right side to (i <= sub, sub), so each row ships ~g/2 times — linear
   * cost — while every cell's quadratic work is an independent join key.
   * Payloads ride this linear side of the exchange, and the quadratic
   * join output is born with both payloads in place.
   *
   * @param pinCells with `grid > 1`, repartition the left side by
   *   (keys, cell) to the explicit count of [[bucketPairs]], for the same
   *   reason. `semanticDedup` pins: its cells follow a shuffle AQE would
   *   otherwise coalesce into one task. The exact cosine grid does not:
   *   its broadcastable corpus streams at scan partitioning, and the pin
   *   would add a shuffle stage to every run.
   */
  def gridSelfJoin(rows: DataFrame, keys: Seq[String], payload: Seq[String],
      grid: Int, pinCells: Boolean): DataFrame = {
    require(grid >= 1, s"gridSelfJoin: grid must be >= 1, got $grid")
    def side(s: String, cells: Column => Column): DataFrame = {
      val named = keys.map(col) ++ ("id" +: payload).map(c => col(c).as(s"${c}_$s"))
      if (grid == 1) rows.select(named: _*)
      else rows.select(named :+ subBlock(col("id"), grid).as(s"sub_$s"): _*)
        .withColumn("cell", explode(cells(col(s"sub_$s"))))
    }
    val l = side("a", s => gridCells(s, grid, lo = s, hi = lit(grid - 1)))
    val r = side("b", s => gridCells(s, grid, lo = lit(0), hi = s))
    val joined =
      if (grid == 1) l.join(r, keys).filter(col("id_a") < col("id_b"))
      else {
        val joinKeys = keys :+ "cell"
        val left =
          if (pinCells) l.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions,
            joinKeys.map(col): _*)
          else l
        left.join(r, joinKeys)
          .filter(col("sub_a") < col("sub_b") || col("id_a") < col("id_b"))
      }
    joined.select(keys.map(col) ++ (("id" +: payload).map(c => col(s"${c}_a")) ++
      ("id" +: payload).map(c => col(s"${c}_b"))): _*)
  }
}
