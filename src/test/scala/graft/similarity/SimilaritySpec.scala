package graft.similarity

import graft.similarity.Similarity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-similarity-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vecs(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosine kernel matches a hand computation and handles zero vectors") {
    val df = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(1f, 1f, 0f),
      3L -> Seq(0f, 0f, 0f))
    val a = df.filter(col("vec_id") === 1).select(col("embedding").as("a"))
    val out = a.crossJoin(df.select(col("vec_id"), col("embedding").as("b")))
      .select(col("vec_id"), cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(out(3L) === 0.0) // zero vector: similarity defined as 0, not NaN
  }

  test("bruteForceTopK ranks by similarity with deterministic id tie-breaks") {
    val df = vecs(
      1L -> Seq(1f, 0f),
      2L -> Seq(1f, 0f),   // identical to 1 (tie at score 1.0)
      3L -> Seq(0.9f, 0.1f),
      4L -> Seq(0f, 1f))
    val out = bruteForceTopK(df.filter(col("vec_id") === 1), df, k = 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out === Array((1, 2L), (2, 3L), (3, 4L)))
  }

  test("hardNegatives excludes the anchor's own label and ranks the rest exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1f, 0f), 0),      // anchor, label 0
      (2L, Seq(0.99f, 0.1f), 0), // same label: nearest overall but EXCLUDED
      (3L, Seq(0.9f, 0.2f), 1),
      (4L, Seq(0.5f, 0.5f), 1),
      (5L, Seq(0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = hardNegatives(df.filter(col("vec_id") === 1L), df, k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // Negatives are the closest DIFFERENT-label vectors: 3 then 4; 2 never
    // appears despite being the global nearest neighbor.
    assert(got === Array((1L, 1, 3L), (1L, 2, 4L)))
  }

  test("ivfTopK with nProbe = nCentroids equals exact brute-force search") {
    // 40 deterministic pseudo-random 8-dim vectors.
    val rows = (0L until 40L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    val queries = df.filter(col("vec_id") < 5)
    val exact = bruteForceTopK(queries, df, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfAll = ivfTopK(queries, df, k = 4, nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfAll === exact)
  }

  test("filtered ivfTopK at full probing equals brute force over the filtered corpus") {
    val rows = (0L until 40L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    val queries = df.filter(col("vec_id") < 5)
    val pred = col("vec_id") % 3 === 0
    // Post-filter over the full index at nProbe = nCentroids must equal
    // exact search over the pre-filtered corpus — ranks dense in [1, k].
    val exact = bruteForceTopK(queries, df.filter(pred), k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val filtered = ivfTopK(queries, df, k = 4, nCentroids = 8, nProbe = 8,
      candidateFilter = pred)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(filtered === exact)
    assert(filtered.forall { case (_, _, id) => id % 3 == 0 })
  }

  test("ivfTopK with partial probing returns k ranked in-cell neighbors") {
    val rows = (0L until 40L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    val out = ivfTopK(df.filter(col("vec_id") < 3), df, k = 4, nCentroids = 8, nProbe = 2)
      .collect()
    assert(out.length === 12) // 3 queries x 4 neighbors
    // Ranks are 1..4 per query and neighbors never include the query itself.
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted === Array(1, 2, 3, 4))
      assert(!rs.map(_.getLong(2)).contains(qid))
    }
  }

  test("ivfPqTopK is exact when PQ is lossless and probing/shortlist are full") {
    // 16 corpus vectors with ks=16: every vector is a codebook seed, so
    // PQ encoding reconstructs each vector exactly and ADC equals the
    // true dot product. With nProbe = nCentroids and shortlist >= corpus
    // nothing is pruned, so the exact-cosine re-rank must reproduce
    // brute force bit-for-bit — the end-to-end identity that pins every
    // stage (codebook, encode, ADC, shortlist, re-rank) at once.
    val rows = (0L until 16L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    val queries = df.filter(col("vec_id") < 4)
    val exact = bruteForceTopK(queries, df, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pq = ivfPqTopK(queries, df, k = 3, m = 4, ks = 16, dims = 8,
      nCentroids = 4, nProbe = 4, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq === exact)
  }

  test("ivfPqTopK lossy path returns k dense-ranked non-self neighbors deterministically") {
    val rows = (0L until 40L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    def run() = ivfPqTopK(df.filter(col("vec_id") < 3), df, k = 4,
      m = 4, ks = 8, dims = 8, nCentroids = 8, nProbe = 2, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val out = run()
    assert(out.length === 12) // 3 queries x 4 neighbors
    out.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted === Array(1, 2, 3, 4))
      assert(!rs.map(_._3).contains(qid))
    }
    assert(run().toSet === out.toSet) // hash-seeded + tie-broken: reruns agree
  }

  test("PQ index persisted to parquet and probed later equals the one-shot search") {
    // The operational shape at scale: encode once, write the slim index +
    // tiny model to parquet, then answer every future query batch from
    // the files — must be indistinguishable from the one-shot path.
    val rows = (0L until 40L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    val queries = df.filter(col("vec_id") < 3)
    val oneShot = ivfPqTopK(queries, df, k = 4, m = 4, ks = 8, dims = 8,
      nCentroids = 8, nProbe = 2, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    val (cent, cb) = Similarity.pqModel(df, m = 4, ks = 8, dims = 8, nCentroids = 8)
    Similarity.pqEncode(df, cent, cb, m = 4, dims = 8)
      .write.partitionBy("cid").parquet(s"$dir/index")
    cent.write.parquet(s"$dir/cent")
    cb.write.parquet(s"$dir/codebook")

    val probed = Similarity.ivfPqProbe(queries,
      spark.read.parquet(s"$dir/index"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/cent"),
      df, k = 4, m = 4, dims = 8, nProbe = 2, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === oneShot)
  }

  test("cosineNearDupPairs exact path returns exactly the above-threshold pairs") {
    val df = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0.99f, 0.1f, 0f),  // ~0.995 vs 1
      3L -> Seq(0f, 1f, 0f),
      4L -> Seq(0f, 0.99f, 0.1f))  // ~0.995 vs 3
    val pairs = cosineNearDupPairs(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
  }

  test("LSH candidate path verifies exactly: output pairs all clear the threshold") {
    val rows = (0L until 64L).map { i =>
      i -> (0 until 64).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    } ++ Seq(
      100L -> (0 until 64).map(d => (Similarity.hyperplaneWeight(7, d) * 2 - 1 + 0.001).toFloat))
    val df = vecs(rows: _*)
    val exact = cosineNearDupPairs(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = cosineNearDupPairs(df, threshold = 0.95, lshBits = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are a subset of all pairs; after exact verification the
    // planted near-identical pair must survive, and nothing below-threshold.
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((7L, 100L)))
  }

  test("int8 quantization: known codes, zero vector, and exact integer dots") {
    val df = vecs(
      1L -> Seq(1.0f, -0.5f, 0.25f, 0.0f),
      2L -> Seq(0.0f, 0.0f, 0.0f, 0.0f))
    val rows = df.select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale"), col("z.q"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Byte](2))).toMap
    // amax=1.0 → scale=1/127; codes floor(x*127+0.5): 127, floor(-63.5+0.5)=-63, floor(31.75+0.5)=32, 0
    assert(rows(1L)._1 === 1.0 / 127.0)
    assert(rows(1L)._2 === Seq[Byte](127, -63, 32, 0))
    assert(rows(2L)._1 === 0.0)
    assert(rows(2L)._2 === Seq[Byte](0, 0, 0, 0))

    val dot = df.filter(col("vec_id") === 1L)
      .select(Similarity.int8Dot(
        Similarity.quantizeInt8(col("embedding")).getField("q"),
        Similarity.quantizeInt8(col("embedding")).getField("q")))
      .head().getLong(0)
    assert(dot === 127L * 127 + 63L * 63 + 32L * 32)
  }

  test("repeated fused kernels in one non-nullable projection compile in codegen") {
    // Non-nullable inputs inline the kernel snippets unbraced into one Java
    // scope — duplicate local names would break compilation. fallback=false
    // turns a silent interpreted fallback into a test failure.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = spark.range(1).select(
        Similarity.dot(array(lit(1f), lit(2f)), array(lit(3f), lit(4f))).as("d1"),
        Similarity.dot(array(lit(5f), lit(6f)), array(lit(7f), lit(8f))).as("d2"),
        Similarity.cosine(array(lit(1f), lit(0f)), array(lit(1f), lit(0f))).as("c1"),
        Similarity.cosine(array(lit(0f), lit(1f)), array(lit(0f), lit(1f))).as("c2"),
        Similarity.int8Dot(array(lit(2.toByte)), array(lit(3.toByte))).as("i1"),
        Similarity.int8Dot(array(lit(4.toByte)), array(lit(5.toByte))).as("i2")).head()
      assert(row.getDouble(0) === 11.0)
      assert(row.getDouble(1) === 83.0)
      assert(row.getDouble(2) === 1.0)
      assert(row.getDouble(3) === 1.0)
      assert(row.getLong(4) === 6L)
      assert(row.getLong(5) === 20L)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("quantized ranking corrects for per-vector scale") {
    // v1 has 10x the magnitude of v2; both quantize to similar codes, so an
    // uncorrected integer ranking would tie them and let the id break it.
    val df = vecs(
      1L -> Seq(10f, 0f),   // true dot vs q: 10
      2L -> Seq(1f, 0.9f),  // true dot vs q: 1
      9L -> Seq(1f, 0f))    // the query
    val ranked = Similarity.quantizedTopK(df.filter(col("vec_id") === 9L), df, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(ranked(1) === 1L, "high-magnitude neighbor must rank first")
    assert(ranked(2) === 2L)
  }

  test("quantized top-k tracks the float ranking on a real corpus") {
    val rows = (0L until 120L).map { i =>
      i -> (0 until 16).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val corpus = vecs(rows: _*)
    val queries = corpus.filter(col("vec_id") < 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = ids(Similarity.quantizedTopK(queries, corpus, k = 5))
    val exactDot = ids({
      // float-dot ranking (not cosine): quantization approximates the dot
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("neighbor_id").asc)
      c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.dot(col("qv"), col("cv")).as("s"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    })
    val overlap = quant.intersect(exactDot).size.toDouble / exactDot.size
    assert(overlap >= 0.8, s"int8 ranking overlap $overlap below 0.8")
  }

  test("kmeans centroids: deterministic across runs, full probing stays exact, partial probing recalls") {
    val rows = (0L until 200L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val corpus = vecs(rows: _*)
    val queries = corpus.filter(col("vec_id") < 10)

    // Bit-identical centroids on repeated runs (decimal sums make the means
    // independent of partition/reduction order).
    def cents() = Similarity.kmeansCentroids(corpus, k = 8, iters = 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val c1 = cents()
    assert(c1.map(_._1).toSeq === (0 until 8))
    assert(c1.toSeq === cents().toSeq)

    val centroids = Similarity.kmeansCentroids(corpus, k = 8, iters = 3)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // Probing every cell is exact search, whatever the centroids are.
    val full = flat(Similarity.ivfTopK(queries, corpus, k = 5,
      nCentroids = 8, nProbe = 8, centroids = centroids))
    val brute = flat(Similarity.bruteForceTopK(queries, corpus, k = 5))
    assert(full === brute)

    // Partial probing trades recall for work; with half the cells probed the
    // overlap with exact top-5 must stay substantial.
    val partial = flat(Similarity.ivfTopK(queries, corpus, k = 5,
      nCentroids = 8, nProbe = 4, centroids = centroids))
    val partialIds = partial.map(t => (t._1, t._3))
    val bruteIds = brute.map(t => (t._1, t._3))
    val recall = partialIds.intersect(bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.5, s"recall $recall below 0.5 at nProbe=4/8")
  }

  test("block-grid exact path covers every pair exactly once, any block count") {
    // Pseudo-random corpus big enough that every grid cell is populated.
    val rows = (0L until 100L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    // nBlocks = 1 degenerates to the full half-cartesian in one cell — the
    // ground truth; larger grids must produce the identical pair set (a
    // missed cell loses pairs, a double-covered cell duplicates them).
    def run(b: Int) = cosineNearDupPairs(df, threshold = 0.3, nBlocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baseline = run(1)
    assert(baseline.length === baseline.distinct.length)
    assert(baseline.nonEmpty)
    for (b <- Seq(4, 16, 17)) {
      val grid = run(b)
      assert(grid.length === grid.distinct.length, s"duplicate pairs at nBlocks=$b")
      assert(grid.toSet === baseline.toSet, s"pair set mismatch at nBlocks=$b")
    }
  }

  test("LSH bucketGrid covers every candidate pair exactly once, any grid") {
    // Pseudo-random corpus; 2-bit bands make every bucket hold ~1/4 of
    // the corpus, so each grid cell of every (band, bucket) is populated.
    val rows = (0L until 100L).map { i =>
      i -> (0 until 64).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    // bucketGrid = 1 pairs each (band, bucket) in one aggregation group —
    // the ground truth; gridded runs must produce the identical verified
    // pair set (a missed grid cell loses pairs). Banding.bucketPairs
    // dedups pairs across bands with distinct(), so the distinctness
    // assertion pins the output contract; that a cell enumerates each of
    // its pairs once is pinned by the bucketPairs test below.
    def run(g: Int) = cosineNearDupPairs(df, threshold = 0.3,
      lshBits = 16, rowsPerBand = 2, bucketGrid = g)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baseline = run(1)
    assert(baseline.nonEmpty)
    for (g <- Seq(4, 7)) {
      val grid = run(g)
      assert(grid.length === grid.distinct.length, s"duplicate pairs at bucketGrid=$g")
      assert(grid.toSet === baseline.toSet, s"pair set mismatch at bucketGrid=$g")
    }
    intercept[IllegalArgumentException] {
      run(0)
    }
  }

  test("bucketPairs: gridded enumeration equals brute force per bucket") {
    import spark.implicits._
    // Buckets of very different sizes, including singletons (no pairs) and
    // ids far larger than the grid, so sub-block hashing actually scatters.
    val members = Map(
      "hot" -> Seq.tabulate(40)(i => 1000L + i * 37L),
      "cold" -> Seq(1L, 2L),
      "solo" -> Seq(99L))
    val rows = members.toSeq.flatMap { case (g, ids) => ids.map((0, g, _)) }
      .toDF("band", "bucket", "id")
    // Plain-Scala ground truth: every unordered pair within each bucket.
    val want = members.values.toSeq.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for (g <- Seq(1, 2, 5, 64)) {
      val df = graft.dedup.Banding.bucketPairs(rows, graft.dedup.Banding.Uncapped, g)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === want,
        s"pair set mismatch at grid=$g")
      // One band, so the final distinct() has nothing to merge: the pair
      // explode itself must emit each pair once — a cell pairing ids of
      // one sub-block off the diagonal would emit extras.
      val emitted = plans.collect(df.queryExecution.executedPlan) {
        case gen: org.apache.spark.sql.execution.GenerateExec
            if gen.generatorOutput.map(_.name) == Seq("b") =>
          gen.metrics("numOutputRows").value
      }
      assert(emitted.sum === want.size, s"pairs enumerated at grid=$g")
    }
    // Extra columns ride the members as a per-id payload, one per side.
    val weighted = graft.dedup.Banding.bucketPairs(rows.withColumn("w", col("id") * 2),
      graft.dedup.Banding.Uncapped, 5)
    assert(weighted.columns.toSeq === Seq("id_a", "w_a", "id_b", "w_b"))
    assert(weighted.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet === want.map { case (a, b) => (a, 2 * a, b, 2 * b) })
    // A cap skips whole buckets over it; it counts the bucket, not a cell,
    // so it cannot combine with a grid.
    assert(graft.dedup.Banding.bucketPairs(rows, 2, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      graft.dedup.Banding.bucketPairs(rows, 2, 2)
    }
  }

  test("semanticDedup: gridded within-cell pruning equals the ungridded result") {
    import spark.implicits._
    val cents = Seq((0, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
        (1, Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
    val rows = (0L until 120L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val df = vecs(rows: _*)
    def run(g: Int) = semanticDedup(df, threshold = 0.3, centroids = cents, grid = g)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val baseline = run(1)
    assert(baseline.exists(!_._3), "toy corpus dropped nothing — test is vacuous")
    for (g <- Seq(3, 8)) assert(run(g) === baseline, s"keep set mismatch at grid=$g")
  }

  test("semanticContamination flags exactly the vectors a brute force flags") {
    val rows = (0L until 120L).map { i =>
      i -> (0 until 8).map(d => (Similarity.hyperplaneWeight(i.toInt, d) * 2 - 1).toFloat)
    }
    val all = vecs(rows: _*)
    val eval = all.filter(col("vec_id") % 10 === 0)
    val train = all.filter(col("vec_id") % 10 =!= 0)
    val got = Similarity.semanticContamination(train, eval, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val evalVecs = rows.filter(_._1 % 10 == 0).map(_._2)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val want = rows.filter(_._1 % 10 != 0).flatMap { case (id, v) =>
      val hits = evalVecs.count(e => cos(v, e) >= 0.3)
      if (hits > 0) Some(id -> hits.toLong) else None
    }.toMap
    assert(got === want)
    assert(want.nonEmpty, "toy corpus produced no contamination — test is vacuous")
  }

  test("semanticDedup: assignment and min-id keeper rule match a brute force") {
    // Fixed centroids through the plug-in seam pin assignment and the
    // keeper rule independently of Lloyd's loop (which kmeans tests own).
    import spark.implicits._
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
    val df = vecs(
      1L -> Seq(1f, 0f),      // cell 0 keeper
      2L -> Seq(0.99f, 0.1f), // cell 0, ~id 1 -> dropped
      3L -> Seq(0.9f, 0.2f),  // cell 0, ~ids 1,2 -> dropped (chain: both go)
      4L -> Seq(0f, 1f),      // cell 1 keeper
      5L -> Seq(0.1f, 0.99f), // cell 1, ~id 4 -> dropped
      6L -> Seq(-1f, 0.1f),   // cell 1 (cosine ties broken to lower cid? no:
                              //  -1 vs c0 = -0.995, vs c1 = 0.0995 -> cell 1),
                              //  dissimilar to 4,5 -> kept
      7L -> Seq(1f, 0f))      // cell 0, identical to 1 -> dropped
    val t = 0.95
    val out = semanticDedup(df, threshold = t, centroids = cents)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getBoolean(2)))).toMap

    // Brute force: same assignment + rule in plain Scala.
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    val rows = Seq(1L -> Seq(1f, 0f), 2L -> Seq(0.99f, 0.1f), 3L -> Seq(0.9f, 0.2f),
      4L -> Seq(0f, 1f), 5L -> Seq(0.1f, 0.99f), 6L -> Seq(-1f, 0.1f), 7L -> Seq(1f, 0f))
    val cs = Seq(0 -> Seq(1f, 0f), 1 -> Seq(0f, 1f))
    val cell = rows.map { case (id, v) =>
      id -> cs.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, s) => (-s, cid) }._1
    }.toMap
    val expect = rows.map { case (id, v) =>
      val dropped = rows.exists { case (oid, ov) =>
        oid < id && cell(oid) == cell(id) && cos(ov, v) >= t }
      id -> ((cell(id), !dropped))
    }.toMap
    assert(out === expect)
    assert(expect.count(!_._2._2) == 4, "toy corpus should drop ids 2,3,5,7")

    // The cell audit over the same corpus/centroids: cells {0: ids 1,2,3,7}
    // and {1: ids 4,5,6} → C(4,2) + C(3,2) = 9 candidate cosines.
    val stats = semanticCellStats(df, centroids = cents)
      .collect().head
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
      === ((2L, 7L, 4L, 9L)))

    // Empty corpus summarizes as zeros, not nulls.
    val empty = semanticCellStats(df.filter(col("vec_id") < 0), centroids = cents)
      .collect().head
    assert((empty.getLong(0), empty.getLong(1), empty.getLong(2), empty.getLong(3))
      === ((0L, 0L, 0L, 0L)))
  }

  test("LSH signature rejects vectors of the wrong dimensionality loudly") {
    val df = vecs(1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.9f, 0.1f, 0f))
    val e = intercept[Exception] {
      cosineNearDupPairs(df, threshold = 0.5, lshBits = 4, dims = 64).collect()
    }
    assert(e.getMessage.contains("64-dim"))
  }

  test("marginMinedPairs demotes the hub and matches a brute-force margin computation") {
    // b=10 is a HUB: moderately similar to everything (it sits between the
    // clusters), so raw cosine picks it for a=1 — but its k-NN average is
    // high, the margin divides it away, and the true partner b=11 wins.
    val a = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0.7f, 0.2f, 0.68f))
    val b = vecs(
      10L -> Seq(0.95f, 0.2f, 0.2f), // hub: raw-cos winner for BOTH a's
      11L -> Seq(0.93f, 0.37f, 0f), // a=1's real partner
      12L -> Seq(0f, 0.1f, 1f)) // a=2's real partner
    val got = marginMinedPairs(a, b, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList.sorted
    // Brute-force reference in plain Scala doubles.
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d / (math.sqrt(x.map(p => p.toDouble * p).sum) *
        math.sqrt(y.map(q => q.toDouble * q).sum))
    }
    val av = a.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val bv = b.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def avgTop(c: Map[Long, Double], k: Int) =
      c.values.toSeq.sorted.reverse.take(k).sum / math.min(k, c.size)
    val expected = av.keys.toList.sorted.map { aid =>
      val cosRow = bv.map { case (bid, v) => bid -> cos(av(aid), v) }
      val aAvg = avgTop(cosRow, 2)
      val margins = cosRow.map { case (bid, c) =>
        val bAvg = avgTop(av.map { case (x, v) => x -> cos(bv(bid), v) }, 2)
        bid -> c / ((aAvg + bAvg) / 2)
      }
      val pick = margins.toSeq.minBy { case (bid, m) => (-m, bid) }._1
      val rank = 1 + cosRow.count { case (bid, c) =>
        c > cosRow(pick) || (c == cosRow(pick) && bid < pick) }
      (aid, pick, rank)
    }
    assert(got === expected)
    // The hub correction actually did something: at least one pick
    // differs from the naive cosine top-1 (cos_rank > 1).
    assert(got.exists(_._3 > 1), s"test fixture no longer exercises the margin: $got")
  }

  test("quantizedReleaseDrift: hand-checked integers, drifted vs stable key") {
    import spark.implicits._
    // Entries in {-1, 0, 1} make the absmax quantizer exact (amax = 1,
    // q = ±127/0), so every expected value is hand-computable. ids with
    // % 10 == 0 are current-only (the \"new release\" rows).
    val emb = Seq(
      // label 0: prev points along e1; the release ADDS an e2 vector -> drift
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0), (10L, Seq(0f, 1f), 0),
      // label 1: the release adds a PARALLEL vector -> no drift (cos = 1)
      (11L, Seq(0f, 1f), 1), (21L, Seq(0f, 1f), 1), (20L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.quantizedReleaseDrift(emb,
      keyCol = col("label"), vecCol = col("embedding"),
      inPrev = col("vec_id") % 10 =!= 0)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

    // label 0: sa = (254, 0), sb = (254, 127)
    assert(got(0) === ((3L, 2L, 254L * 254L, 254L * 254L, 254L * 254L + 127L * 127L)))
    // label 1: sa = (0, 254), sb = (0, 381) — parallel, cos exactly 1
    val (n1, p1, dot1, np1, nc1) = got(1)
    assert((n1, p1) === ((3L, 2L)))
    assert(dot1 === 254L * 381L && np1 === 254L * 254L && nc1 === 381L * 381L)
    assert(dot1 * dot1 === np1 * nc1, "parallel populations must score cos = 1 exactly")
    // and the drifted key scores strictly below 1 (Cauchy-Schwarz strict)
    val (_, _, dot0, np0, nc0) = got(0)
    assert(dot0 * dot0 < np0 * nc0)
  }

  // --------------------------------------------- truncationRankAudit

  test("truncationRankAudit: hand rank displacement lands on the exact rational 1/2") {
    // Query [1,0,0]. Full ranks: id2 (cos 1.0) > id1 (0.874) > id3 (0.726).
    // First-2-dims ranks: all cos 1.0 -> id order 1, 2, 3.
    // d = (1, -1, 0) -> sum_d2 = 2; n = 3 -> rho = 1 - 12/24 = 1/2.
    val q = vecs(0L -> Seq(1f, 0f, 0f))
    val c = vecs(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0.9f, 0f, 0.5f),
      2L -> Seq(0.8f, 0f, 0f),
      3L -> Seq(0.95f, 0f, 0.9f))
    val r = Similarity.truncationRankAudit(q, c, dims = 2).head()
    assert(r.getLong(1) === 3L, "self is excluded")
    assert(r.getLong(2) === 2L)
    assert(r.getLong(3) === 12L && r.getLong(4) === 24L)
  }

  test("truncationRankAudit: full-width truncation preserves every rank (rho = 1)") {
    val q = vecs(0L -> Seq(1f, 2f, 3f))
    val c = vecs(0L -> Seq(1f, 2f, 3f), 1L -> Seq(3f, 2f, 1f),
      2L -> Seq(1f, 0f, 1f), 3L -> Seq(0f, 1f, 0f))
    val r = Similarity.truncationRankAudit(q, c, dims = 3).head()
    assert(r.getLong(2) === 0L)
    assert(r.getLong(3) === r.getLong(4) && r.getLong(3) > 0L)
  }

  test("truncationRankAudit: one row per query, ranks independent across queries") {
    val q = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    val c = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(1f, 1f), 3L -> Seq(-1f, 0.5f))
    val out = Similarity.truncationRankAudit(q, c, dims = 2)
      .orderBy("query_id").collect()
    assert(out.length === 2)
    assert(out.forall(r => r.getLong(1) === 3L))
    assert(out.forall(r => r.getLong(2) === 0L), "full-width -> no displacement")
  }
}
