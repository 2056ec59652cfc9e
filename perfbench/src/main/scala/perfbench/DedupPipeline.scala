package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup => D}
import graft.similarity.Similarity

/**
 * dedup_pipeline: the training-data operators over a seeded corpus with
 * planted near-duplicate clusters and planted cosine neighbours. Covers
 * shuffle, join and pair volume, both banding paths (MinHash LSH and
 * hyperplane LSH), and the memoized eager operators. Every check compares
 * against an exact in-memory reference (prefix-filtered exact Jaccard,
 * brute-force cosine) computed from the generator's own documents.
 */
object DedupPipeline extends Workload {
  val name = "dedup"
  final case class Size(docs: Int, vectors: Int, queries: Int)
  val Main = Size(2000, 1000, 50)
  /** Jaccard threshold TNum/TDen. */
  val TNum = 3
  val TDen = 4
  val CosineThreshold = 0.9
  /** Hyperplane LSH for the cosine join: 12 bands of 4 bits. A planted pair
   * (cosine ≥ 0.96, angle ≤ 16°) shares a band with probability
   * 1 − (1 − 0.91^4)^12 ≈ 1 − 1e-6. */
  val LshBits = 48
  val RowsPerBand = 4
  val TopK = 5
  val MinPlantedRecall = 0.9

  /** Everything the checks need for one input set. */
  final case class Expect(docs: Corpus.Docs, vectors: Corpus.Vectors,
      queries: Array[(Long, Long, Array[Float])],
      exactGroups: Long, exactDupGroups: Set[(Long, Long)],
      jaccard: Set[(Long, Long, Int, Int)], components: Set[(Long, Long, Long)],
      cosine: Set[(Long, Long)])

  private var expected: Expect = _

  private def generate(seed: Long, s: Size): (Corpus.Docs, Corpus.Vectors,
      Array[(Long, Long, Array[Float])]) = {
    val docs = Corpus.docs(seed, s.docs, 0L)
    val vecs = Corpus.vectors(seed + 2, s.vectors)
    (docs, vecs, Corpus.queries(seed + 3, vecs, s.queries))
  }

  private def write(spark: SparkSession, seed: Long, s: Size, to: String): Unit = {
    import spark.implicits._
    val (docs, vecs, qs) = generate(seed, s)
    val parts = spark.sparkContext.defaultParallelism
    def docDf(d: Corpus.Docs) = d.docs.toSeq.map(x => (x.id, x.text, x.source, x.score))
      .toDF("doc_id", "text", "source", "score").repartition(parts)
    Gen.writeParquet(docDf(docs), s"$to/docs")
    Gen.writeParquet(vecs.ids.toSeq.zip(vecs.vecs.toSeq).toDF("vec_id", "embedding").repartition(parts),
      s"$to/embeddings")
    Gen.writeParquet(qs.toSeq.map(q => (q._1, q._3)).toDF("vec_id", "embedding"), s"$to/queries")
  }

  def setup(ctx: Ctx): Unit = {
    write(ctx.spark, ctx.seed, Main, ctx.input("corpus"))
  }

  private def reference(seed: Long, s: Size): Expect = {
    val (docs, vecs, qs) = generate(seed, s)
    val byText = docs.docs.groupBy(_.text)
    val shingles = docs.docs.toSeq.map(d => d.id -> Corpus.charShingles(d.text))
    val jaccard = Corpus.exactJaccard(shingles, Nil, TNum, TDen).toSet
    // Components of the exact pair graph (union-find); each keeps its
    // member with the best score, then the lowest id.
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    jaccard.foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val score = docs.docs.map(d => d.id -> d.score).toMap
    val components = parent.keys.toSeq.groupBy(find).values.map { members =>
      val kept = members.maxBy(m => (score(m), -m))
      (members.min, kept, members.size.toLong)
    }.toSet
    Expect(docs, vecs, qs,
      byText.size.toLong,
      byText.values.filter(_.length > 1).map(ds => (ds.map(_.id).min, ds.length.toLong)).toSet,
      jaccard, components,
      Corpus.exactCosine(vecs, CosineThreshold))
  }

  def expect(ctx: Ctx): Unit =
    expected = reference(ctx.seed, Main)

  private def opsOver(ctx: Ctx, in: String): Seq[Op] = {
    def docs(s: SparkSession) = ctx.read(s"$in/docs")
    def emb(s: SparkSession) = ctx.read(s"$in/embeddings")
    Seq(
      Op("components_keep_best", { s =>
        val d = docs(s)
        val components = D.connectedComponents(D.jaccardNearDupPairs(d, TNum, TDen))
        D.keepBest(components, d.select(col("doc_id").as("id"), col("score")))
      }),
      Op("exact_dup_groups", s => D.exactDupGroups(docs(s))),
      Op("cosine_pairs", s => Similarity.cosineNearDupPairs(emb(s), CosineThreshold,
        lshBits = LshBits, rowsPerBand = RowsPerBand)),
      Op("ivf_topk", s => Similarity.ivfTopK(ctx.read(s"$in/queries"), emb(s), TopK)))
  }

  def ops(ctx: Ctx): Seq[Op] = opsOver(ctx, ctx.input("corpus"))

  private def diff[A](got: Set[A], want: Set[A], what: String): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} rows vs ${want.size} expected; missing ${(want -- got).take(3)}, " +
      s"unexpected ${(got -- want).take(3)}")

  def check(ctx: Ctx, op: String, paths: Seq[String]): Map[String, String] = {
    val rows = Sketches.readAll(ctx.spark, paths).collect().groupBy(_.getAs[String]("_src"))
    paths.flatMap { p =>
      val e = expected
      val rs = rows.getOrElse(p, Array.empty[Row]).toSeq
      def l(r: Row, c: String) = r.getAs[Number](c).longValue
      val failure: Option[String] = op match {
        case "exact_dup_groups" =>
          if (rs.size != e.exactGroups) Some(s"${rs.size} groups, expected ${e.exactGroups}")
          else diff(rs.filter(r => l(r, "n_copies") > 1).map(r => (l(r, "canonical_id"), l(r, "n_copies"))).toSet,
            e.exactDupGroups, "duplicate groups")
        case "components_keep_best" =>
          diff(rs.map(r => (l(r, "component_id"), l(r, "kept_id"), l(r, "n_members"))).toSet,
            e.components, "components")
        case "cosine_pairs" => diff(rs.map(r => (l(r, "id_a"), l(r, "id_b"))).toSet, e.cosine, "cosine pairs")
        case "ivf_topk" =>
          val byQuery = rs.groupBy(r => l(r, "query_id"))
          val planted = e.queries.map(q => q._1 -> q._2).toMap
          val hits = planted.count { case (q, n) => byQuery.get(q).exists(_.exists(r => l(r, "neighbor_id") == n)) }
          if (byQuery.size != planted.size) Some(s"${byQuery.size} queries answered of ${planted.size}")
          else if (byQuery.values.exists(g => g.map(r => l(r, "rank")).sorted != (1L to TopK).toSeq))
            Some("ranks are not 1..k")
          else if (hits < MinPlantedRecall * planted.size) Some(s"planted recall $hits/${planted.size}")
          else None
      }
      failure.map(p -> _)
    }.toMap
  }

  override def layerCounts(ctx: Ctx, outputs: Map[String, String]): Map[String, Double] = {
    val spark = ctx.spark
    // Σ n(n−1)/2 over the (band, bucket) groups of the operators' default
    // banding (128 MinHash values, 4 per band), from the public kernels.
    val docs = spark.read.parquet(s"${ctx.input("corpus")}/docs")
    val sig = docs.select(D.minhashSignature(D.shingles(col("text"), 5), 128).as("sig"))
    val candidates = sig.select(posexplode(transform(sequence(lit(0), lit(31)),
        b => slice(col("sig"), b * 4 + 1, lit(4)))).as(Seq("band", "key")))
      .groupBy("band", "key").count()
      .select(sum(col("count") * (col("count") - 1) / 2)).first().getDouble(0)
    def rows(op: String) = outputs.get(op).map(p => spark.read.parquet(p).count().toDouble).getOrElse(0.0)
    Map("dedup.candidate_pairs" -> candidates,
      "dedup.verified_pairs" -> D.jaccardNearDupPairs(docs, TNum, TDen).count().toDouble,
      "dedup.components" -> rows("components_keep_best"),
      "similarity.verified_pairs" -> rows("cosine_pairs"))
  }

  def provenance(ctx: Ctx): Map[String, Any] = {
    val e = expected
    Map("docs" -> Main.docs, "vectors" -> Main.vectors,
      "queries" -> Main.queries, "dims" -> Corpus.Dims, "vocabulary" -> Corpus.Vocabulary.length,
      "dup_rate" -> Corpus.DupRate, "duplicate_clusters" -> e.docs.clusters,
      "copies" -> e.docs.copies, "exact_copies" -> e.docs.exactCopies,
      "hot_clusters" -> s"${Corpus.HotClusters} x ${Corpus.HotClusterSize}",
      "cluster_size" -> "1 + Geometric(1/2), capped at 8",
      "near_dup_pairs" -> e.jaccard.size, "cosine_pairs" -> e.cosine.size,
      "vector_copies" -> e.vectors.copies,
      "corpus_bytes" -> Harness.dirBytes(new java.io.File(ctx.input("corpus"))),
      "jaccard_threshold" -> s"$TNum/$TDen")
  }

  def kernelInputs(ctx: Ctx): Kernels.Inputs = {
    val docs = expected.docs.docs
    Kernels.Inputs(docs.map(_.id) ++ docs.indices.map(i => docs(i).text.hashCode.toLong),
      docs.map(_.score), docs.flatMap(_.text.split(' ').take(5)), docs.take(500).map(_.text))
  }
}
