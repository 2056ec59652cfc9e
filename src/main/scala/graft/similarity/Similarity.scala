package graft.similarity

import graft.dedup.Banding
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Design for scale:
 *  - Scoring uses the codegen'd [[ArrayDotProduct]]/[[ArrayCosineSimilarity]]
 *    kernels — a fused primitive loop, not interpreted higher-order funcs.
 *  - Top-k for a bounded query set broadcasts the queries and streams the
 *    corpus once: cost is |corpus|×|queries| fused dots with no shuffle of
 *    the corpus; the per-query top-k heap is a window over a tiny
 *    (|queries|×k-bounded after local sort) intermediate.
 *  - All-pairs near-duplicate search buckets by sign-LSH first when asked
 *    (`cosineNearDupPairs` with `lshBits > 0`), falling back to the exact
 *    half-cartesian otherwise.
 */
object Similarity {

  def cosine(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayCosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayDotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Symmetric absmax int8 quantization: struct(scale, q) — see [[QuantizeInt8]]. */
  def quantizeInt8(vec: Column): Column =
    GraftSqlBridge.column(QuantizeInt8(GraftSqlBridge.expression(vec)))

  /** Exact integer dot of two int8 code arrays — see [[Int8DotProduct]]. */
  def int8Dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(Int8DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /**
   * Top-k neighbors by QUANTIZED dot product: the 4×-smaller scoring pass.
   * Same broadcast-queries/stream-corpus shape as [[bruteForceTopK]], but
   * each comparison is an integer int8 dot instead of a float cosine — the
   * corpus side scans 1 byte per dimension.
   *
   * Ranking corrects for per-vector quantization scale: the approximate
   * dot is `iscore · scale_q · scale_c`, and since `scale_q` is constant
   * within a query's partition, ordering by `iscore · scale_c` ranks by
   * the approximate dot. Without the correction a high-magnitude neighbor
   * (large scale, deflated codes) would lose to a small one at equal true
   * dot. Long→double conversion and one multiply are IEEE-exact, so the
   * ranking (ties by neighbor id) is still deterministic and
   * engine-reproducible.
   */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      quantizeInt8(col(vecCol)).getField("q").as("q_codes"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantizeInt8(col(vecCol)).as("z"))
      .select(col("neighbor_id"), col("z.q").as("c_codes"), col("z.scale").as("c_scale"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (int8Dot(col("q_codes"), col("c_codes")) * col("c_scale")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /**
   * Semantic decontamination: flag every train vector whose embedding
   * scores `cosine >= threshold` against ANY eval-set vector — the
   * embedding-space analogue of n-gram benchmark decontamination
   * ([[graft.dedup.Dedup.ngramContamination]]), which catches paraphrased
   * or re-rendered eval leakage that exact-gram matching misses.
   *
   * Scale contract: the eval side is an evaluation benchmark — thousands
   * of vectors, not corpus-scale — so it BROADCASTS and the train corpus
   * is processed in one map-side pass (|train| × |eval| fused cosines,
   * embarrassingly parallel, no shuffle of train vectors). Only flagged
   * (id, hit) rows reach the per-id aggregation, and its map-side partial
   * combine collapses each train vector's eval fanout before the
   * exchange, so shuffle volume is bounded by the number of CONTAMINATED
   * docs — which decontamination presumes is small.
   *
   * Output is ids and integer hit counts only (no float scores), so the
   * result is engine-exact under the same widen-to-double cosine
   * agreement q16 relies on.
   *
   * @return (id, n_eval_hits) for flagged train vectors only.
   */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val t = train.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val e = eval.select(col(vecCol).as("evec"))
    t.crossJoin(broadcast(e))
      .select(col("id"), cosine(col("vec"), col("evec")).as("s"))
      .filter(col("s") >= threshold)
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"))
  }

  /**
   * Exact top-k cosine neighbors for each query vector.
   *
   * @param queries  (id, vector) — must be small enough to broadcast
   * @param corpus   (id, vector)
   * @return (query_id, rank, neighbor_id) with rank in [1, k]; ties broken
   *         by neighbor id so results are deterministic
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /**
   * Hard-negative mining for contrastive training: for each anchor, the k
   * most-similar corpus vectors with a DIFFERENT label — near-misses that
   * teach a retriever more than random negatives do (the in-batch-negatives
   * upgrade every embedding-training pipeline ships eventually).
   *
   * The different-label constraint is PER ANCHOR (each anchor excludes its
   * own class), which filtered ANN's static corpus predicate cannot
   * express — so the anchor's label rides the broadcast and the filter
   * runs map-side on the joined row, before anything shuffles.
   *
   * Plan: anchors broadcast (they are the small side by construction);
   * one map-side pass scores |corpus| × |anchors| fused cosines; the
   * per-anchor top-k rides [[graft.operators.TopK.topKStructs]], so each
   * task forwards AT MOST k (score, id) structs per anchor into the
   * exchange — no whole-group window sort, nothing proportional to
   * |corpus| shuffles. Swap the corpus side for [[ivfTopK]]'s probed
   * cells when |corpus| per anchor must shrink too.
   *
   * @return (query_id, rank, neighbor_id) with rank in [1, k]; ties broken
   *         by neighbor id so results are deterministic
   */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    labelConstrainedTopK(anchors, corpus, k, sameLabel = false,
      idCol, vecCol, labelCol)

  /** [[hardNegatives]]'s positive sibling: the k most-similar SAME-label
   * neighbors (self excluded) per anchor — the pseudo-positive mining
   * half of contrastive pair assembly (triplets = this at k=1 joined
   * with [[hardNegatives]], see q148). Same plan. */
  def labelPositives(anchors: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    labelConstrainedTopK(anchors, corpus, k, sameLabel = true,
      idCol, vecCol, labelCol)

  private def labelConstrainedTopK(anchors: DataFrame, corpus: DataFrame,
      k: Int, sameLabel: Boolean, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val a = anchors.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      col(labelCol).as("c_label"))
    val constraint =
      if (sameLabel) col("c_label") === col("q_label") &&
        col("neighbor_id") =!= col("query_id")
      else col("c_label") =!= col("q_label")
    c.crossJoin(broadcast(a))
      .filter(constraint)
      .select(col("query_id"), struct(
        (-cosine(col("q_vec"), col("c_vec"))).as("nscore"),
        col("neighbor_id").as("nid")).as("sn"))
      .groupBy("query_id")
      .agg(sort_array(graft.operators.TopK.topKStructs(col("sn"), k)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.nid").as("neighbor_id"))
  }

  /**
   * Margin-based parallel-pair mining (the bitext-mining scorer): for
   * every vector on side A, its best side-B partner under the RATIO
   * MARGIN criterion — raw cosine top-1 systematically overselects "hub"
   * vectors that sit near everything, and dividing by the average
   * similarity of each endpoint's k-nearest neighborhood penalizes
   * exactly those hubs (Artetxe & Schwenk 2019, the standard mined-pair
   * selection for parallel-corpus construction):
   *
   *   margin(x, y) = cos(x, y) / ((avgNN_k(x→B) + avgNN_k(y→A)) / 2)
   *
   * where avgNN_k is the mean cosine of the endpoint's k nearest
   * cross-side neighbors (all of them when a side holds fewer than k).
   *
   * Plan (hardNegatives' broadcast discipline, applied three times over
   * the SAME map-side scored stream rather than materializing it — each
   * pass is shuffle-free until its bounded aggregation, the 100 TB
   * trade): (1) BOTH per-endpoint neighborhood averages in ONE
   * aggregation — each scored row fans to its two endpoints and a
   * single (id)-keyed pass runs two conditional k-bounded
   * [[graft.operators.TopK.topKStructs]] heaps (the aggregate skips the
   * endpoint a row doesn't belong to), so at most 2k structs per id
   * cross ONE exchange and the a-side/b-side average tables are two
   * reads of the same materialized stage (round-11 verdict: the former
   * two-pass formulation re-planned the crossJoin-scored stream once
   * per endpoint); (2) the per-A argmax margin, heap-bounded (k=1) with
   * the tiny average tables broadcast back; (3) the chosen pair's
   * RAW-cosine rank as a counting aggregation (how far the margin pick
   * sits from the naive pick — the audit column, and an all-integer
   * one, so the oracle compares ids and ranks, never floats).
   *
   * Degenerate inputs FAIL FAST rather than silently diverging from the
   * oracle's ORDER BY semantics (round-12 advice): a zero-norm (or
   * null/empty) vector would make every cosine NaN, and a zero margin
   * denominator (an endpoint pair whose k-NN averages cancel exactly)
   * would make the margin NULL/NaN — both orderings are
   * engine-dependent, so each raises with the offending id instead.
   * The norm guard costs one fused dot per ENDPOINT row (never per
   * pair).
   *
   * @param a (idCol, vecCol) — the query side; must be broadcastable
   * @param b (idCol, vecCol) — the candidate side; must be broadcastable
   * @return (a_id, b_id, cos_rank): b = argmax margin for a (ties to the
   *         smaller b id), cos_rank = 1-based rank of that b in a's raw
   *         cosine order (1 = margin agrees with naive top-1)
   */
  def marginMinedPairs(a: DataFrame, b: DataFrame, k: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def nonDegenerate(v: Column, id: Column, side: String): Column =
      when(dot(v, v) > 0.0d, v).otherwise(raise_error(concat(
        lit(s"marginMinedPairs: zero-norm/null/empty $side vector (id "),
        id.cast("string"), lit(") — cosine similarity is undefined"))))
    val qa = a.select(col(idCol).as("a_id"),
      nonDegenerate(col(vecCol), col(idCol), "query-side").as("a_vec"))
    // The b side streams through THREE scoring passes (averages, argmax,
    // rank), each a map-side |A|×|B| cosine kernel. A small corpus
    // arrives as ONE scan split, so all three passes would run
    // single-threaded (the fanOutSmallScan mechanism, at a heavier
    // work-per-byte than the 2 MB gram-build floor warrants — ~|A| fused
    // cosines per b row, so fan out whenever more than one split's worth
    // of work exists). The planted exchange is bounded by the b side's
    // broadcastability contract, and all three consumers read the SAME
    // materialized stage (identical subtree, identical columns — the
    // scheduler dedups it).
    val cb = b.select(col(idCol).as("b_id"),
        nonDegenerate(col(vecCol), col(idCol), "candidate-side").as("b_vec"))
      .repartition(b.sparkSession.sparkContext.defaultParallelism)
    val scored = cb.crossJoin(broadcast(qa))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_vec"), col("b_vec")).as("cos"))
    // sort_array fixes the SUMMATION ORDER (cos descending) so the
    // double result is deterministic and the oracle's ordered-sum
    // aggregation reproduces it bit-for-bit. The average is computed
    // per CONDITIONAL heap (tk_a from rows where the id was the a
    // endpoint, tk_b from the b rows) rather than per filtered stream:
    // a group-key filter would push below the aggregate and split the
    // exchange back into two independently-scored passes.
    def heapAvg(tk: Column): Column =
      -aggregate(sort_array(tk), lit(0.0d),
        (acc, t) => acc + t.getField("nc")) / size(tk)
    // PERSISTED — the one materialization this operator plants, and it is
    // (|A|+|B|)-bounded (two ≤k-struct heaps per endpoint id; the scored
    // stream itself never persists). Without it, each of the two average
    // tables below would re-derive the aggregation from its own scoring
    // pass: per-consumer column pruning keeps only that side's heap, the
    // two aggregate subtrees stop being canonically equal, and exchange
    // reuse never fires (measured: the "shared" exchange formulation ran
    // the scoring TWICE here). The cache manager substitutes this one
    // materialized table for both reads at planning time regardless of
    // what each consumer prunes. Lazy (no job at construction) and
    // lineage-preserving (executor loss recomputes lost blocks).
    val avgs = scored
      .select(col("cos"), explode(array(
        struct(lit(0).as("ep"), col("a_id").as("id")),
        struct(lit(1).as("ep"), col("b_id").as("id")))).as("e"))
      .select(col("e.id").as("id"), col("e.ep").as("ep"),
        struct((-col("cos")).as("nc")).as("sn"))
      .groupBy(col("id"))
      .agg(
        graft.operators.TopK.topKStructs(when(col("ep") === 0, col("sn")), k).as("tk_a"),
        graft.operators.TopK.topKStructs(when(col("ep") === 1, col("sn")), k).as("tk_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Two reads of ONE cached aggregation. Ids that never appear on a
    // side carry that side's EMPTY heap; they drop here (ANSI division
    // needs the guard) and the inner equi-joins could never select them
    // anyway.
    val avgA = avgs.filter(size(col("tk_a")) > 0)
      .select(col("id").as("a_id"), heapAvg(col("tk_a")).as("avg_a_id"))
    val avgB = avgs.filter(size(col("tk_b")) > 0)
      .select(col("id").as("b_id"), heapAvg(col("tk_b")).as("avg_b_id"))
    val denom = (col("avg_a_id") + col("avg_b_id")) / 2.0d
    val withMargin = scored
      .join(broadcast(avgA), Seq("a_id"))
      .join(broadcast(avgB), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("cos"),
        when(denom =!= 0.0d, col("cos") / denom).otherwise(raise_error(concat(
          lit("marginMinedPairs: zero margin denominator for pair ("),
          col("a_id").cast("string"), lit(", "), col("b_id").cast("string"),
          lit(") — the endpoint k-NN averages cancel exactly")))).as("margin"))
    val picked = withMargin
      .select(col("a_id"), struct((-col("margin")).as("nm"),
        col("b_id").as("pb_id"), col("cos").as("pcos")).as("sn"))
      .groupBy("a_id")
      .agg(graft.operators.TopK.topKStructs(col("sn"), 1).as("tk"))
      .select(col("a_id"), col("tk").getItem(0).getField("pb_id").as("pb_id"),
        col("tk").getItem(0).getField("pcos").as("pcos"))
    scored.join(broadcast(picked), Seq("a_id"))
      .groupBy("a_id")
      .agg(min(col("pb_id")).as("b_id"),
        (sum(when(col("cos") > col("pcos") ||
            (col("cos") === col("pcos") && col("b_id") < col("pb_id")),
          1L).otherwise(0L)) + 1L).cast("int").as("cos_rank"))
      .select(col("a_id"), col("b_id"), col("cos_rank"))
  }

  /**
   * All pairs with cosine similarity >= threshold.
   *
   * With `lshBits > 0`, candidate pairs are generated by banded
   * random-hyperplane LSH (bits grouped `rowsPerBand` per band) and then
   * exactly verified — the 100 TB path: the cartesian never materializes,
   * only same-bucket pairs do.
   *
   * With `lshBits = 0` (exact mode, the only sound choice when the
   * threshold is too low for sign-LSH to prune — below τ≈0.6 random
   * hyperplanes agree on near-orthogonal vectors too often) the O(n²)
   * scoring is unavoidable, but it is DISTRIBUTED: ids hash into `nBlocks`
   * blocks and each of the nBlocks·(nBlocks+1)/2 block pairs becomes one
   * equi-join key, so every task scores a bounded ~(n/nBlocks)² grid cell
   * with the fused kernel. No CartesianProduct / BroadcastNestedLoopJoin
   * ever appears in the plan: a single-partition cartesian would put the
   * whole n² on one core (and one task's memory), where the grid spreads
   * identical total work evenly across the cluster. Each row is shipped
   * (nBlocks+1)/2 ≈ nBlocks/2 times — shuffle grows linearly with nBlocks
   * while per-task work shrinks quadratically, so size nBlocks to
   * ~sqrt(2·cores·waves).
   *
   * `bucketGrid` (LSH path only) is the hot-bucket insurance: a bucket of
   * n members costs C(n, 2) candidate enumerations, and that work is
   * INDIVISIBLE under plain (band, bucket)-keyed execution — AQE skew
   * splitting cannot help (the pair expansion needs the whole bucket in
   * one group) and salting cannot either (a salted bucket would miss
   * cross-salt pairs). With `bucketGrid = g > 1` each bucket's members
   * sub-block by id hash and the g·(g+1)/2 grid cells become independent
   * aggregation keys ([[graft.dedup.Banding.bucketPairs]] — the same cell
   * scheme as the exact path's nBlocks grid, applied inside each bucket),
   * so one mega-bucket parallelizes across ~g²/2 tasks instead of
   * serializing into one.
   * Band rows ship ~g/2 times more, so leave the default 1 when banding
   * is sound (many small buckets) and raise it when the bucket histogram
   * is hot — e.g. aggressive recall configs with few bits per band, or a
   * corpus with a giant near-duplicate class.
   */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
      lshBits: Int = 0, rowsPerBand: Int = 2, dims: Int = 64, nBlocks: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketGrid: Int = 1): DataFrame = {
    val base = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val candidates =
      if (lshBits <= 0) {
        // Block grid over the whole corpus: the hash (not raw id) guards
        // against clustered id ranges landing whole blocks on one cell.
        // Cosine is symmetric, so only the ids are normalized.
        Banding.gridSelfJoin(base, keys = Nil, payload = Seq("vec"), nBlocks,
            pinCells = false)
          .select(least(col("id_a"), col("id_b")).as("id_a"), col("vec_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"), col("vec_b"))
      } else {
        // Banded rows carry ONLY (band, bucket, id) — the library's
        // payload-free contract (see Dedup.simhashNearDupPairs). Shipping
        // vectors here would multiply embedding bytes × nBands on the wire;
        // instead candidate id pairs are deduped first and the (id, vec)
        // sides are joined back from the slim base table, so each vector
        // crosses the wire once per surviving candidate, not once per band.
        // Uncapped: a skipped bucket would silently lose its pairs.
        Banding.bucketPairs(bandedRows(base, lshBits, rowsPerBand, dims),
            Banding.Uncapped, bucketGrid)
          // SHUFFLE_HASH on the vector side: candidate pairs can be
          // quadratic in bucket sizes while base is |corpus|-bounded —
          // never sort the pair stream, build the id→vec hash table.
          // Tradeoff (r17 ADVICE): the hash build side cannot spill; a
          // partition's id→vec slice outgrowing executor memory OOMs
          // where sort-merge would have spilled. Accepted because the
          // build side is the LINEAR corpus-sized table spread by id
          // hash — the side the sorted plan measurably died on is the
          // quadratic pair stream, not this one.
          .join(base.select(col("id").as("id_a"), col("vec").as("vec_a"))
            .hint("shuffle_hash"), "id_a")
          .join(base.select(col("id").as("id_b"), col("vec").as("vec_b"))
            .hint("shuffle_hash"), "id_b")
          .select(col("id_a"), col("vec_a"), col("id_b"), col("vec_b"))
      }
    candidates
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("score"))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** (band, bucket, id) rows of the hyperplane-LSH banding — the
   * payload-free banding subtree of [[cosineNearDupPairs]], exposed
   * package-private so plan tests pin its columns directly. Each band
   * hashes `rowsPerBand` signature bits to one bucket value. */
  private[graft] def bandedRows(base: DataFrame, lshBits: Int,
      rowsPerBand: Int, dims: Int): DataFrame = {
    val sig = base.withColumn("sig", hyperplaneSignature(col("vec"), lshBits, dims))
    sig.select(col("id"), posexplode(array((0 until lshBits / rowsPerBand)
      .map(b => Banding.bandKey(col("sig"), b, rowsPerBand)): _*)).as(Seq("band", "bucket")))
  }

  /**
   * IVF (inverted-file) approximate top-k: the scale path for ANN.
   *
   * Index side: `nCentroids` coarse centroids — deterministically the first
   * `nCentroids` corpus vectors by id, so the whole structure is
   * reproducible across engines and runs (a production deployment would
   * plug a k-means|| step here; the query plan is identical) — and every
   * corpus vector is assigned to its nearest centroid (highest cosine, ties
   * to the lower centroid id). Query side: each query probes its `nProbe`
   * nearest cells and exactly re-ranks only the vectors in those cells.
   *
   * Scale contract: centroids broadcast (C ~ thousands); assignment is one
   * map-side pass over the corpus (|corpus| × C fused cosines, no shuffle
   * of vectors beyond the cell repartition); per-query work drops from
   * |corpus| to ~nProbe·|corpus|/C. Recall is tunable via nProbe — with
   * nProbe = nCentroids this degrades gracefully to exact search.
   *
   * `candidateFilter` is FILTERED ANN: a predicate over the corpus row
   * (metadata columns included), applied at QUERY time over the
   * unchanged full-corpus index — the post-filter strategy. It enters the
   * re-rank as a left-semi join against the predicate's id set, which the
   * corpus scan computes with pushdown as (id) rows only; the top-k then
   * ranks allowed candidates exclusively, so rank 1..k is dense within
   * the filtered set. The production caveat is inherited from the
   * strategy, not this implementation: a highly selective filter thins
   * each probed cell, so recall at fixed nProbe drops — raise nProbe as
   * selectivity rises (at nProbe = nCentroids this too is exact).
   *
   * @return (query_id, rank, neighbor_id), rank in [1, k]
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame = null,
      candidateFilter: Column = null): DataFrame = {
    // Driver-local centroids (a trained [[kmeansCentroids]] plug-in or a
    // test's literal table) fuse assignment and probing into codegen'd
    // projections — no broadcast, no per-id window shuffle; the general
    // path serves centroid PLANS (e.g. the default first-N seeding,
    // which must stay lazy).
    val centValues = Option(centroids).flatMap(driverLocalCentroids)
    val cent =
      if (centroids != null) centroids.select(col("cid"), col("cvec"))
      else corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
        .orderBy(col("cid")).limit(nCentroids)

    // Inverted file: nearest centroid per corpus vector (one map-side pass).
    val corpusBase = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val assigned = centValues match {
      case Some(cents) =>
        corpusBase.select(nearestCentroidByValues(col("vec"), cents).as("cid"),
          col("id"), col("vec"))
      case None =>
        val assignW = Window.partitionBy(col("id")).orderBy(col("cscore").desc, col("cid").asc)
        corpusBase
          .crossJoin(broadcast(cent))
          .select(col("id"), col("vec"), col("cid"), cosine(col("vec"), col("cvec")).as("cscore"))
          .withColumn("rn", row_number().over(assignW))
          .filter(col("rn") === 1)
          .select(col("cid"), col("id"), col("vec"))
    }

    // Probe list: nProbe nearest cells per query.
    val queryBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = centValues match {
      case Some(cents) =>
        queryBase.select(col("query_id"), col("q_vec"),
          probeCellsByValues(col("q_vec"), cents, nProbe).as("p"))
          .select(col("query_id"), col("q_vec"), col("p.cid").as("cid"))
      case None =>
        val probeW = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cid").asc)
        queryBase
          .crossJoin(broadcast(cent))
          .select(col("query_id"), col("q_vec"), col("cid"),
            cosine(col("q_vec"), col("cvec")).as("cscore"))
          .withColumn("rn", row_number().over(probeW))
          .filter(col("rn") <= nProbe)
          .select(col("query_id"), col("q_vec"), col("cid"))
    }

    // Exact re-rank inside the probed cells only — restricted to the
    // filter's id set when one is given (ids only ride the semi-join).
    val candidates0 = probes.join(assigned, "cid")
      .filter(col("query_id") =!= col("id"))
    val candidates =
      if (candidateFilter == null) candidates0
      else candidates0.join(
        corpus.filter(candidateFilter).select(col(idCol).as("id")),
        Seq("id"), "left_semi")
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    candidates
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("q_vec"), col("vec")).as("score"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /**
   * IVF-PQ approximate nearest neighbour — the standard big-corpus ANN
   * layout (Jégou et al., "Product Quantization for Nearest Neighbor
   * Search", TPAMI 2011; the Faiss `IVFx,PQy` index): a coarse inverted
   * file bounds WHICH vectors a query looks at, and product-quantized
   * codes bound WHAT the candidate scan reads — m byte codes per vector
   * instead of `dims` floats, so the candidate-scoring pass touches
   * ~dims/m× less data than [[ivfTopK]]'s exact re-rank of whole cells.
   *
   * Stages (all deterministic, ties always to the lower id/code, so the
   * DuckDB oracle can restate every step):
   *  1. Codebooks: the corpus is split into `m` contiguous `dims/m`-wide
   *     subspaces; each subspace gets `ks` codewords seeded from the `ks`
   *     lowest-id vectors (the [[ivfTopK]] first-N seeding rule — swap in
   *     [[kmeansCentroids]]-trained sub-codebooks via the same seam when
   *     quality matters more than oracle simplicity).
   *  2. Encode: each corpus vector becomes `m` codes — per subspace, the
   *     codeword minimizing squared L2 (computed via the dot identity
   *     ‖a‖²+‖b‖²−2a·b so both engines evaluate the identical double
   *     expression), ties to the lower code.
   *  3. ADC: per query, a lookup table of dot(query-subvector, codeword)
   *     — |queries|·m·ks doubles, broadcast. Candidate score = Σ over
   *     subspaces of table[sub, code[sub]], summed in DECIMAL(38,16) so
   *     the sum is partial-aggregation-order-independent and
   *     engine-exact.
   *  4. Shortlist the top `shortlist` per query by ADC (desc, id asc),
   *     then exact-cosine re-rank only those — full vectors join back
   *     for |queries|×shortlist rows only.
   *
   * Scale contract: the inverted file and code table shuffle slim
   * (id, sub, code) ints — embedding bytes never ride a candidate
   * exchange (the library's payload-free rule). Codebooks, centroids,
   * and the ADC table are broadcast (m·ks + |queries|·m·ks rows). The
   * per-candidate cost is m decimal adds versus [[ivfTopK]]'s dims-wide
   * cosine, which is the whole point at 100 TB: the exact kernel runs
   * on |queries|×shortlist rows, not on every vector of every probed
   * cell. Encoding is one map-side pass (row × m·ks fan-out collapses
   * in a partially-aggregating min_by before any exchange).
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, ks: Int = 16, dims: Int = 64,
      nCentroids: Int = 16, nProbe: Int = 4, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame = null): DataFrame = {
    val (cent, codebook) = pqModel(corpus, m, ks, dims, nCentroids, idCol, vecCol, centroids)
    val index = pqEncode(corpus, cent, codebook, m, dims, idCol, vecCol)
    ivfPqProbe(queries, index, codebook, cent, corpus, k, m, dims,
      nProbe, shortlist, idCol, vecCol)
  }

  /** Subspace s of an m-way split covers 1-based elements
   * [s·subDim+1, (s+1)·subDim]. */
  private def subVec(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  private def subExplode(df: DataFrame, id: String, v: String,
      m: Int, subDim: Int): DataFrame =
    df.select(col(id),
      posexplode(array((0 until m).map(s => subVec(col(v), s, subDim)): _*))
        .as(Seq("sub", "sv")))

  /** The PQ "model" — everything [[pqEncode]]/[[ivfPqProbe]] need besides
   * the data: (coarse centroids (cid, cvec), per-subspace codebooks
   * (sub, code, cw)). Both are tiny (nCentroids + m·ks rows) — persist
   * them next to the index and every future probe skips training. */
  def pqModel(corpus: DataFrame, m: Int = 8, ks: Int = 16, dims: Int = 64,
      nCentroids: Int = 16, idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame = null): (DataFrame, DataFrame) = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m equal subspaces")
    val subDim = dims / m
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cent =
      if (centroids != null) centroids.select(col("cid"), col("cvec"))
      else base.select(col("id").as("cid"), col("vec").as("cvec"))
        .orderBy(col("cid")).limit(nCentroids)
    // Codebooks: code = rank-by-id among the ks seed vectors. The
    // unpartitioned window runs over ks rows post-limit — driver-bounded.
    val seed = base.orderBy(col("id")).limit(ks)
      .withColumn("code", row_number().over(Window.orderBy(col("id"))) - 1)
    val codebook = (0 until m).map { s =>
      seed.select(lit(s).as("sub"), col("code"), subVec(col("vec"), s, subDim).as("cw"))
    }.reduce(_ unionAll _)
    (cent, codebook)
  }

  /** PQ-encode + coarse-assign the corpus — the PERSISTABLE index: one
   * slim (id, cid, sub, code) row per (vector, subspace), m·4-ish bytes
   * per vector per subspace instead of `dims` floats. Write this to
   * parquet once (partition by cid for probe locality) and amortize the
   * encode pass over every subsequent query batch — at 100 TB the index
   * build is the expensive job and probes are cheap, so the split is the
   * operational shape, with [[ivfPqTopK]] as the one-shot convenience. */
  def pqEncode(corpus: DataFrame, cent: DataFrame, codebook: DataFrame,
      m: Int = 8, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m equal subspaces")
    val subDim = dims / m
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Encode: nearest codeword per (vector, subspace) by squared L2 via
    // the dot identity (both engines evaluate the identical double
    // expression); the broadcast-join fan-out collapses map-side in
    // min_by's partial aggregate.
    val l2sq = dot(col("sv"), col("sv")) + dot(col("cw"), col("cw")) -
      lit(2.0) * dot(col("sv"), col("cw"))
    val codes = subExplode(base, "id", "vec", m, subDim)
      .join(broadcast(codebook), "sub")
      .select(col("id"), col("sub"), col("code"), l2sq.as("d"))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
    // Inverted file: the ivfTopK assignment rule verbatim; slim — no
    // vectors survive into the index. Driver-local centroids (trained
    // k-means or a literal test table) assign as a fused projection.
    val assigned = driverLocalCentroids(cent) match {
      case Some(cents) =>
        base.select(col("id"), nearestCentroidByValues(col("vec"), cents).as("cid"))
      case None =>
        val assignW = Window.partitionBy(col("id")).orderBy(col("cscore").desc, col("cid").asc)
        base.crossJoin(broadcast(cent))
          .select(col("id"), col("cid"), cosine(col("vec"), col("cvec")).as("cscore"))
          .withColumn("rn", row_number().over(assignW)).filter(col("rn") === 1)
          .select(col("id"), col("cid"))
    }
    assigned.join(codes, "id")
      .select(col("id"), col("cid"), col("sub"), col("code"))
  }

  /** Probe a persisted PQ index: coarse-probe → ADC shortlist → exact
   * re-rank. `corpus` supplies vectors ONLY for the |queries|×shortlist
   * re-rank join; candidate scoring reads just the index's int columns. */
  def ivfPqProbe(queries: DataFrame, index: DataFrame, codebook: DataFrame,
      cent: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, dims: Int = 64, nProbe: Int = 4, shortlist: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m equal subspaces")
    val subDim = dims / m
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))

    val probes = driverLocalCentroids(cent) match {
      case Some(cents) =>
        qs.select(col("query_id"),
          probeCellsByValues(col("q_vec"), cents, nProbe).as("p"))
          .select(col("query_id"), col("p.cid").as("cid"))
      case None =>
        val probeW = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cid").asc)
        qs.crossJoin(broadcast(cent))
          .select(col("query_id"), col("cid"), cosine(col("q_vec"), col("cvec")).as("cscore"))
          .withColumn("rn", row_number().over(probeW)).filter(col("rn") <= nProbe)
          .select(col("query_id"), col("cid"))
    }

    // ADC lookup table — |queries|·m·ks rows, broadcast to the probe scan.
    val lut = subExplode(qs, "query_id", "q_vec", m, subDim)
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"), dot(col("sv"), col("cw")).as("dv"))

    // Candidate score = Σ over subspaces of table[sub, code], summed in
    // DECIMAL(38,16): partial-aggregation-order-independent, engine-exact.
    val adc = probes.join(index, "cid")
      .filter(col("query_id") =!= col("id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("dv").cast("decimal(38,16)")).as("adc"))
    val shortW = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("id").asc)
    val short = adc.withColumn("rn", row_number().over(shortW))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("id"))

    // Exact re-rank of the shortlist only — the single place vectors rejoin.
    val rankW = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    short.join(qs, "query_id")
      .join(base, "id")
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("q_vec"), col("vec")).as("score"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /**
   * Deterministic Lloyd k-means over an embedding column — the quality
   * upgrade for [[ivfTopK]]'s centroid plug-in seam (pass the result as its
   * `centroids` argument). Returns (cid, cvec).
   *
   * Engine-reproducible by construction, which ordinary k-means is not:
   *  - Seeding: the k initial centers are the corpus vectors with the k
   *    smallest `md5_hash64(id)` values — a content-independent,
   *    hash-seeded spread (ties impossible for distinct ids), reproducible
   *    anywhere md5 exists.
   *  - Updates: per-dimension means are summed in DECIMAL(38,16), not
   *    double — decimal addition is exact, so the result is independent of
   *    partition/reduction order; the same data gives bit-identical
   *    centroids on every run, cluster layout, and engine.
   *  - Assignment: nearest centroid by cosine, ties to the lower cid —
   *    same rule as [[ivfTopK]].
   *
   * Scale contract: per iteration, ONE corpus pass and ONE exchange —
   * the k current centers are driver values, so nearest-center
   * assignment is a LITERAL codegen'd argmax (k fused cosines + an
   * array_min, no crossJoin fan-out, no per-id aggregation), and the
   * per-dimension decimal means partially aggregate straight to
   * (k × dims) rows, which collect to the driver (k·dims values, the
   * same order of driver traffic as an AQE stage statistic — what keeps
   * the loop free of growing lineage). Empty clusters keep their
   * previous center.
   *
   * EAGER: the Lloyd loop runs on every call, because each iteration
   * needs the previous centers as driver values.
   */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidValuesToDf(corpus.sparkSession,
      kmeansCentroidValues(corpus, k, iters, idCol, vecCol))

  /** [[kmeansCentroids]] as driver values — the Lloyd loop itself.
   * (cid, center) pairs, cid dense in [0, k). */
  def kmeansCentroidValues(corpus: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Seq[Float])] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Persist the slim (id, vec) projection once: init + every Lloyd
    // iteration re-reads it, and without this each of the iters+1 jobs
    // re-pays the full corpus scan (at 100 TB, the scan dominates the
    // iteration). MEMORY_AND_DISK: spills instead of recomputing, and
    // remains lineage-recoverable on executor loss (unlike localCheckpoint).
    val cached = base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Hash-seeded init: k corpus vectors with the smallest md5_hash64(id).
    var centroids: Array[(Int, Seq[Float])] = cached
      .orderBy(graft.operators.Sampling.md5Hash64(col("id").cast("string")), col("id"))
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }

    var iter = 0
    while (iter < iters) {
      // Literal-centroid argmax (ordering (-score, cid) = highest score,
      // ties to the lower centroid id — identical to the former
      // min_by-over-crossJoin and to the (score desc, cid asc) rank-1
      // window the DuckDB oracle computes, on the same doubles), fused
      // with the exact-decimal dimension means: one projection, one
      // partially-aggregating (cid, dim) exchange, one k·dims-row
      // collect per iteration — where the former shape paid a per-id
      // exchange, a second per-cid exchange, and a broadcast each round.
      // Decimal sums are order-independent, so still deterministic.
      val means = cached
        .select(nearestCentroidByValues(col("vec"), centroids).as("cid"),
          posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,16)")) / count(lit(1)))
          .cast("float").as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2))
        .toMap
      centroids = centroids.map { case (cid, old) =>
        if (means.contains((cid, 0)))
          (cid, old.indices.map(d => means((cid, d))).toVector)
        else (cid, old)
      }
      iter += 1
    }
    cached.unpersist(blocking = false)
    centroids.toSeq
  }

  /** Driver centroid values as the (cid, cvec) DataFrame every centroid
   * seam accepts. A LocalRelation — [[driverLocalCentroids]] recovers
   * the values without a job, so plans built on this stay fused. */
  private def centroidValuesToDf(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
  }

  /** Codegen'd nearest-centroid argmax over LITERAL centers: k fused
   * cosines + an array_min over (-score, cid) structs — the exact
   * ordering (score desc, ties to the lower cid) of the min_by/window
   * formulations on any REAL score, with no crossJoin fan-out, no
   * broadcast, and no per-id exchange. NaN caveat (ADVICE r12): a
   * zero-norm vector or centroid yields NaN cosines, and there the
   * formulations diverge — array_min and min_by sort NaN LAST, while an
   * orderBy(score.desc) window ranks NaN FIRST (Spark treats NaN as
   * largest). This literal path matches the min_by formulation; inputs
   * with zero-norm embeddings should be scrubbed upstream (the
   * marginMinedPairs guard) before assignment means anything. */
  private def nearestCentroidByValues(vec: Column,
      cents: Seq[(Int, Seq[Float])]): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    array_min(array(cents.map { case (cid, cv) =>
      struct((-cosine(vec, typedLitFloats(cv))).as("ns"), lit(cid).as("cid"))
    }: _*)).getField("cid")
  }

  /** The nProbe nearest centroids over LITERAL centers, as an exploded
   * (probe) column: sort all k (-score, cid) structs, slice the head —
   * identical order to the (cscore desc, cid asc) rank window it
   * replaces on any REAL score, as a pure projection. Same NaN caveat as
   * [[nearestCentroidByValues]]: on NaN cosines this matches the
   * min_by/sort_array ordering (NaN last), not the rank window's. */
  private def probeCellsByValues(vec: Column, cents: Seq[(Int, Seq[Float])],
      nProbe: Int): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    explode(slice(sort_array(array(cents.map { case (cid, cv) =>
      struct((-cosine(vec, typedLitFloats(cv))).as("ns"), lit(cid).as("cid"))
    }: _*)), 1, nProbe))
  }

  private def typedLitFloats(v: Seq[Float]): Column =
    org.apache.spark.sql.functions.typedLit(v.toArray)

  /** Recover centroid VALUES from a (cid, cvec) frame whose plan is
   * driver-local (a LocalRelation — e.g. [[kmeansCentroids]]' output or
   * a test's `toDF`): `collect()` on such a plan runs NO job, so the
   * centroid seams can swap their broadcast-crossJoin assignment for the
   * fused literal argmax without changing laziness. Any other plan (or
   * schema) returns None and the general path runs. */
  private def driverLocalCentroids(cent: DataFrame): Option[Seq[(Int, Seq[Float])]] = {
    import org.apache.spark.sql.types._
    val local = cent.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val schemaOk = cent.schema.fields.map(_.dataType).toSeq match {
      case Seq(IntegerType, ArrayType(FloatType, _)) => true
      case _ => false
    }
    if (local && schemaOk)
      Some(cent.collect().toSeq.map(r => (r.getInt(0), r.getSeq[Float](1))))
    else None
  }

  /**
   * SemDeDup-style semantic dedup: cluster the embedding space, then prune
   * near-identical vectors WITHIN each cluster — the shape that makes
   * embedding dedup tractable at corpus scale (Abbas et al., "SemDeDup",
   * arXiv:2303.09540: all-pairs over 100 TB is hopeless, all-pairs within
   * k-means cells is linear-ish when k grows with the corpus). Returns one
   * row per input id: (id, cid, keep).
   *
   * Keeper rule — one-pass min-id dominance, NOT transitive closure: a
   * vector is dropped iff some SMALLER id in the same cluster scores
   * `cosine >= threshold` against it. Deterministic, order-free, and
   * engine-reproducible (the DuckDB oracle states the same rule in one
   * NOT EXISTS); chains (a~b~c, a!~c with a<b<c) drop both b and c, the
   * conservative end of SemDeDup's per-cluster pruning variants. Use
   * [[graft.dedup.Dedup.canonicalAssignment]] over thresholded pairs when
   * transitive-group semantics are wanted instead.
   *
   * Scale contract: clustering is [[kmeansCentroids]] (broadcast
   * centroids, map-side assignment via partially-aggregating min_by —
   * never a row × k fan-out past an exchange). Pair generation carries
   * each row's VECTOR through the cell self-join (guide §8: decide which
   * side of an exchange is linear and which is quadratic, and ship the
   * payload on the linear side): the join INPUTS are |corpus| × ~grid/2
   * rows — vector bytes cross the exchange a bounded number of times —
   * while the join OUTPUT (Σ|cell|², the quadratic part) is born with
   * both vectors in place and streams straight into the cosine filter
   * without ever crossing an exchange. The previous payload-free
   * formulation (slim (cid, id) pairs, vectors joined back by id) was
   * exactly backwards at scale: it kept vectors off the LINEAR cell
   * exchange but then shuffled the QUADRATIC pair stream twice to attach
   * them — the r17 sf10 sweep measured that shape filling a 252 GB disk
   * (sort-merge: sorter spill; shuffled-hash: the id_b exchange carrying
   * vec_a). Cells partition the corpus, so unlike the LSH band join no
   * cross-group pair dedup exists to force the slim-pair detour.
   * Within-cluster candidate volume is Σ|cell|² — size k so cells stay
   * bounded (SemDeDup uses ~100k cells at web scale).
   *
   * @param centroids optional (cid, cvec) plug-in, same seam as
   *   [[ivfTopK]] — tests pass fixed centroids to pin assignment and the
   *   keeper rule independently of Lloyd's loop.
   * @param grid sub-block factor for the within-cell pair enumeration
   *   ([[graft.dedup.Banding.gridSelfJoin]]): with the default 1 a cell's
   *   C(n, 2) pair work lives in one task per cid; `grid = g` splits it
   *   across ~g²/2 grid cells. Quadratic-volume relief belongs to `k` (more, smaller cells
   *   — read [[semanticCellStats]] first); `grid` is the PARALLELISM
   *   knob for whatever cell sizes remain, and the insurance against the
   *   cid-join serializing when k is small relative to the cluster.
   */
  def semanticDedup(corpus: DataFrame, threshold: Double, k: Int = 16,
      iters: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame = null, grid: Int = 1): DataFrame = {
    val (base, assigned) =
      cellAssignment(corpus, k, iters, idCol, vecCol, centroids)
    // (cid, id, vec) — one linear attach of the vector BEFORE the cell
    // self-join; see the scaladoc for why the payload rides the linear
    // side of the exchange. The cosine filter consumes the join output
    // in place; a pair {x, y} meets in exactly one (cid, cell) slot,
    // cosine is symmetric, and only the LARGER id is emitted, so no id
    // normalization is needed.
    val dropped = Banding.gridSelfJoin(assigned.join(base, "id"),
        keys = Seq("cid"), payload = Seq("vec"), grid, pinCells = true)
      .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select(greatest(col("id_a"), col("id_b")).as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("hit", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"), col("hit").isNull.as("keep"))
  }

  /** The shared front half of [[semanticDedup]] and [[semanticCellStats]]
   * — resolve centroids (plug-in or Lloyd), slim the corpus to (id, vec),
   * and assign each row its nearest centroid (highest cosine, ties to the
   * lower cid) via min_by on (-score, cid): the partial-aggregation shape
   * from [[kmeansCentroids]], so the shuffle carries one struct per
   * (task, id), never the row × k fan-out. One helper so the diagnostic
   * instruments exactly the assignment the operator runs, and cannot
   * drift from it. Returns (base = (id, vec), assigned = (id, cid)). */
  private def cellAssignment(corpus: DataFrame, k: Int, iters: Int,
      idCol: String, vecCol: String,
      centroids: DataFrame): (DataFrame, DataFrame) = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val centValues =
      if (centroids != null) driverLocalCentroids(centroids)
      else Some(kmeansCentroidValues(corpus, k, iters, idCol, vecCol))
    val assigned = centValues match {
      // Literal argmax: assignment becomes a pure codegen'd projection —
      // no broadcast, no per-id exchange (same ordering, see
      // [[nearestCentroidByValues]]).
      case Some(cents) =>
        base.select(col("id"), nearestCentroidByValues(col("vec"), cents).as("cid"))
      case None =>
        val cent = centroids.select(col("cid"), col("cvec"))
        base
          .crossJoin(broadcast(cent))
          .select(col("id"), col("cid"), cosine(col("vec"), col("cvec")).as("cscore"))
          .groupBy(col("id"))
          .agg(min_by(col("cid"),
            struct((-col("cscore")).as("negscore"), col("cid"))).as("cid"))
    }
    (base, assigned)
  }

  /** Cell-volume accounting for [[semanticDedup]] — the q74/q75-style
   * pre-flight diagnostic: within-cell pruning costs Σ |cell|·(|cell|−1)/2
   * exact cosines, and `candidate_pairs` IS that number, so an operator
   * reads this one row before launching a semantic-dedup job to learn
   * whether k is large enough for the corpus (cells too big → raise k,
   * re-cluster, re-check — cheaper than discovering it mid-join). One
   * aggregate over the same assignment [[semanticDedup]] runs; empty
   * corpora summarize as zeros, not nulls. */
  def semanticCellStats(corpus: DataFrame, k: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: DataFrame = null): DataFrame = {
    val (_, assigned) =
      cellAssignment(corpus, k, iters, idCol, vecCol, centroids)
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_cells"),
        coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
        coalesce(max(col("n")), lit(0L)).as("largest_cell"),
        coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("candidate_pairs"))
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim):
   * a fixed affine-mix hash folded to roughly-uniform [-1, 1). No runtime
   * randomness — signatures are reproducible across sessions and engines. */
  private[graft] def hyperplaneWeight(bit: Int, dim: Int): Double = {
    var z = bit.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Sign bits of `lshBits` fixed hyperplane projections, as array<int>.
   * The hyperplanes span exactly `dims` components; a vector of any other
   * length fails the query loudly (a silent zip_with null-pad would fold
   * every signature to the same bucket and degenerate LSH to a full
   * cartesian — see round-1 ADVICE). */
  private def hyperplaneSignature(vec: Column, lshBits: Int, dims: Int): Column = {
    require(lshBits > 0 && dims > 0, "lshBits and dims must be positive")
    val bits = (0 until lshBits).map { b =>
      // dot(vec, w_b) >= 0 — weights are literals, so this folds into codegen
      val planes = (0 until dims).map(d => lit(hyperplaneWeight(b, d)))
      val weighted = zip_with(vec, array(planes: _*), (x, w) => x.cast("double") * w)
      when(aggregate(weighted, lit(0.0), (acc, x) => acc + x) >= 0, 1).otherwise(0)
    }
    when(size(vec) === dims, array(bits: _*)).otherwise(raise_error(concat(
      lit(s"hyperplane LSH is configured for $dims-dim vectors, got "),
      size(vec).cast("string"), lit("-dim"))))
  }

  /**
   * Embedding-space RELEASE drift per key — the monitoring row a corpus
   * pipeline publishes when a new release lands: has a key's (source's,
   * topic's) embedding population MOVED, or merely grown? Float centroids
   * are engine- and order-dependent, so this works on the [[QuantizeInt8]]
   * coordinates instead: per key, the element-wise INTEGER sums of the
   * quantized vectors for the previous release (rows satisfying `inPrev`)
   * and the current one, reduced to `dot`, `norm_prev2`, `norm_curr2` —
   * cosine is scale-invariant, so cos(sum_prev, sum_curr) IS the quantized
   * centroid drift, and the three integers re-derive exactly in any engine
   * (the q193 oracle re-runs q32's quantizer in DuckDB). One corpus pass;
   * the only shuffle is |keys|×|dims| coordinate sums.
   *
   * Deliberate semantics: absmax quantization gives every vector a uniform
   * amplitude, so this is the drift of the DIRECTION population (outlier-
   * robust — one huge-norm vector cannot drag the centroid), not of the
   * raw float mean. Long arithmetic bounds: |q| ≤ 127, so per-key sums
   * need n_key·127 < 2^31.5-ish per dim before dot products stress 2^63 —
   * ~10^8 vectors per key; beyond that, lift `sa`/`sb` to decimal.
   *
   * @return (key, n_curr, n_prev, dot, norm_prev2, norm_curr2), integers.
   */
  def quantizedReleaseDrift(emb: DataFrame, keyCol: Column, vecCol: Column,
      inPrev: Column): DataFrame = {
    val coords = emb
      .select(keyCol.as("key"), inPrev.as("__prev"),
        posexplode(quantizeInt8(vecCol).getField("q")).as(Seq("dim", "qv")))
      .groupBy("key", "dim")
      .agg(sum(when(col("__prev"), col("qv").cast("long")).otherwise(0L)).as("sa"),
        sum(col("qv").cast("long")).as("sb"))
    val geom = coords.groupBy("key")
      .agg(sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("norm_prev2"),
        sum(col("sb") * col("sb")).as("norm_curr2"))
    val counts = emb.groupBy(keyCol.as("key"))
      .agg(count(lit(1)).as("n_curr"),
        sum(when(inPrev, 1L).otherwise(0L)).as("n_prev"))
    counts.join(geom, "key")
  }

  /**
   * Dimension-truncation (Matryoshka) quality audit: per query, Spearman's
   * rank correlation between the FULL-dimension cosine ranking of the
   * corpus and the ranking under only the first `dims` coordinates — the
   * "can we serve truncated embeddings?" eval (Kusupati et al.,
   * "Matryoshka Representation Learning", NeurIPS 2022: nested prefixes
   * of one embedding trade dimensions for rank fidelity; this measures
   * that trade on YOUR corpus before anyone re-provisions the index).
   *
   * INTEGER-EXACT verdict: both rankings are total orders
   * (score desc, neighbor id asc), so with n corpus vectors and
   * D² = Σ (rank_full − rank_trunc)²,
   *
   *   ρ = 1 − 6·D² / (n·(n²−1))   ⇒   (rho_num, rho_den) =
   *       (n(n²−1) − 6·D², n(n²−1))
   *
   * ships as the exact rational — engines agree bit-for-bit however they
   * round the cosines, because only the RANKS enter the statistic.
   *
   * Scale contract: one broadcast pass scores BOTH cosines per
   * (query, corpus) pair map-side (the truncated slice fuses into the
   * same projection — no second corpus scan); ranking is a per-query
   * window, so this is an EVAL tool over a bounded query set and a
   * corpus sample (like every brute-force eval here: q17's recall
   * baseline has the same shape). Long headroom: n(n²−1) needs
   * n ≲ 2·10⁶ corpus vectors per audit — sample beyond that.
   *
   * @return one row per query: (query_id, n, sum_d2, rho_num, rho_den)
   */
  def truncationRankAudit(queries: DataFrame, corpus: DataFrame, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("s_full"),
        cosine(slice(col("q_vec"), 1, dims), slice(col("c_vec"), 1, dims))
          .as("s_trunc"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("s_full").desc, col("neighbor_id").asc)
    val wT = Window.partitionBy(col("query_id"))
      .orderBy(col("s_trunc").desc, col("neighbor_id").asc)
    scored
      .select(col("query_id"),
        row_number().over(wF).cast("long").as("rf"),
        row_number().over(wT).cast("long").as("rt"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("rf") - col("rt")) * (col("rf") - col("rt"))).as("sum_d2"))
      .select(col("query_id"), col("n"), col("sum_d2"),
        (col("n") * (col("n") * col("n") - 1L) - lit(6L) * col("sum_d2"))
          .as("rho_num"),
        (col("n") * (col("n") * col("n") - 1L)).as("rho_den"))
  }
}
