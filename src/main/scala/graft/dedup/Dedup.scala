package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/**
 * Corpus deduplication at scale: exact (fingerprint), near-duplicate via
 * MinHash + banded LSH with exact Jaccard verification, and SimHash with
 * banded Hamming search.
 *
 * The scaling contract for every near-dup path here is the same:
 *  - The all-pairs comparison NEVER materializes; candidates are the ids
 *    sharing a (band, bucket), listed by [[Banding.bucketPairs]].
 *  - Band rows carry ONLY (band, bucket, id) — never document payloads —
 *    so the LSH shuffle is O(docs × bands × 24 bytes); SimHash adds its
 *    8-byte sim, which verifies a pair in place. Shingle sets are joined
 *    back for candidate pairs only.
 *  - Signatures come from single-pass kernels ([[MinHashSignature]],
 *    [[SimHash64]]), not per-hash-function expression evaluation.
 *  - Thresholds are integer rationals (`den·inter >= num·union`); no float
 *    crosses an engine boundary.
 */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** One row per distinct normalized content: canonical (minimum) id, the
   * number of copies, and the fingerprint. Exact dedup is a hash groupBy —
   * at 100 TB the shuffle carries (fingerprint, id) pairs, not documents. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /**
   * Incremental ingest dedup: the docs of a newly-arrived batch that are
   * genuinely new — their normalized fingerprint appears neither in the
   * existing corpus (anti-join) nor earlier in the batch itself (canonical
   * min id per group). This is the daily-crawl production shape of
   * [[exactDupGroups]]: dedup the increment against accumulated state
   * without re-deduping the accumulated corpus.
   *
   * Scale contract: both sides reduce to (fingerprint[, id]) BEFORE the
   * join — document text never shuffles. At 100 TB the corpus side is a
   * stored fingerprint table (write it with [[graft.sources.Layout]]
   * bucketed by `fp`) so each increment joins zero-exchange against state
   * instead of rescanning history.
   *
   * @return (doc_id, fp) — one row per surviving batch doc.
   */
  def incrementalNewDocs(batch: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batchFp = batch.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val corpusFp = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    batchFp.join(corpusFp, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col("id")).as(idCol))
      .select(col(idCol), col("fp"))
  }

  // ---------------------------------------------------------------- shingles

  /** Distinct character n-gram shingle array (default 5-grams), lowercased.
   * Documents shorter than the shingle width get their whole text as the
   * single shingle. Single-pass kernel ([[CharShingles]]). */
  def shingles(text: Column, n: Int = 5): Column =
    GraftSqlBridge.column(CharShingles(GraftSqlBridge.expression(text), n))

  // ----------------------------------------------------------------- minhash

  /** k-element MinHash signature of a string array (single-pass kernel).
   * `auditable = true` switches the element hash to md5-derived so any
   * engine can re-derive the signature — see [[MinHashSignature]]. */
  def minhashSignature(elements: Column, k: Int = 128,
      auditable: Boolean = false): Column =
    GraftSqlBridge.column(
      MinHashSignature(GraftSqlBridge.expression(elements), k, auditable))

  /** 64-bit SimHash of a string array (single-pass kernel). With
   * `auditable = true`, tokens hash via MD5 so any engine with `md5()` can
   * recompute the same simhash — see [[SimHash64]]. */
  def simhash64(elements: Column, auditable: Boolean = false): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(elements), auditable))

  /**
   * Near-duplicate pairs by MinHash LSH + exact Jaccard verification.
   *
   * @param thresholdNum numerator of the Jaccard threshold rational: a pair
   *   qualifies iff `thresholdDen · |A∩B| >= thresholdNum · |A∪B|`
   * @param thresholdDen denominator of the threshold rational
   * @param k     signature length
   * @param rows  signature rows per LSH band (bands = k / rows). MUST be
   *              chosen so the banding detects pairs AT the threshold with
   *              probability ~1: detection p(J) = 1-(1-J^rows)^bands. The
   *              default (k=128, rows=4 → 32 bands) gives p(0.75) ≈ 1-5e-6
   *              while a background pair at J=0.25 is a candidate with odds
   *              0.12 — candidate volume stays near-linear in corpus size.
   *              rows=8 (16 bands) halves candidate noise but only once the
   *              threshold is ≳0.9; below J≈0.85 it silently drops pairs
   *              (p(0.75) ≈ 0.82), so prefer lowering the threshold rational
   *              over raising `rows`.
   * @param maxBucketSize hard cap on LSH bucket size. A degenerate bucket —
   *              every doc sharing one template shingle — would otherwise
   *              expand |bucket|² candidate structs inside ONE task and OOM
   *              the executor at corpus scale. Buckets larger than the cap
   *              are SKIPPED, never partially sampled: a near-dup pair a
   *              hot bucket would have caught still surfaces through any of
   *              the other `bands-1` bands (detection probability for a
   *              J≥threshold pair stays ≈1 unless nearly all its bands
   *              overflow, which means the pair is template spam, not a
   *              near-dup). The skip is NOT silent: every overflowing
   *              bucket logs an executor-side warning (the aggregate itself
   *              emits it, so no optimizer rewrite can drop it), and
   *              [[lshBucketStats]] quantifies drops for the same
   *              parameters as a one-aggregate diagnostic query.
   * @return (id_a, id_b, inter, uni) for qualifying pairs — integer columns
   *         only, so the result is bit-comparable across engines.
   */
  def jaccardNearDupPairs(docs: DataFrame, thresholdNum: Int, thresholdDen: Int,
      k: Int = 128, rows: Int = 4, shingleWidth: Int = 5,
      maxBucketSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    verifyJaccardCandidates(docs,
      Banding.bucketPairs(lshBanded(docs, k, rows, shingleWidth, idCol, textCol),
        maxBucketSize, grid = 1),
      thresholdNum, thresholdDen, shingleWidth, idCol, textCol)
      .orderBy("id_a", "id_b")

  /**
   * Exact-verification tail shared by [[jaccardNearDupPairs]] and the
   * streaming candidate path ([[graft.streaming.StreamingOps.lshCandidateStream]]):
   * given (id_a, id_b) candidate pairs from ANY banding, re-shingle ONLY
   * docs that appear in some pair (a semi-join keeps the shingle kernel
   * off the non-candidate corpus — at 100 TB candidates are a sliver, and
   * recomputing a few shingle sets is far cheaper than materializing all
   * of them twice), count intersections with the sorted merge kernel, and
   * keep pairs clearing the threshold rational. No .distinct() on the id
   * sliver: the left-semi join dedups its build side anyway, and dropping
   * it saves a whole shuffle. Unordered — callers sort.
   */
  def verifyJaccardCandidates(docs: DataFrame, candidates: DataFrame,
      thresholdNum: Int, thresholdDen: Int, shingleWidth: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id")))
    // sort_array establishes SortedStringIntersectCount's contract: one
    // sort per candidate doc buys an allocation-free merge count per
    // candidate pair (same build-once/probe-many trade as the PPJoin
    // gram sets; shingle sets stay as STRINGS so the oracle re-derives
    // the intersection with no hashing step).
    val candShingled = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), sort_array(shingles(col("txt"), shingleWidth)).as("sh"))
    // SHUFFLE_HASH on the shingle side (optimization guide §3.1): the
    // default sort-merge join SORTS both inputs, and here the sorted rows
    // carry the shingle ARRAYS — at dense-candidate scale that sort
    // buffers pair×array rows and spills catastrophically (the r17 sf10
    // sweep measured 45+ GB of UnsafeExternalSorter spill on exactly this
    // stage before filling the disk). A shuffled hash join builds the
    // per-partition doc→shingles table (bounded by the candidate-doc
    // sliver, the smaller side by construction) and STREAMS the pair rows
    // straight into the intersect-count kernel — the heavy arrays cross
    // the exchange once and never enter a sorter. Same inner equi-join,
    // same rows. Tradeoff (r17 ADVICE): the hash build side cannot spill
    // — if one partition's slice of the candidate-doc shingle table
    // outgrows executor memory, this OOMs where sort-merge would have
    // spilled. Accepted on measurement: the build side is the candidate
    // DOC sliver (linear in docs, not quadratic in pairs) and is spread
    // by id hash, so a partition only outgrows memory if the doc table
    // itself is mis-sized for the executors — at which point the sorted
    // alternative was already the measured disk-filling failure.
    candidates
      .join(candShingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(candShingled.select(col("id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftSqlBridge.column(SortedStringIntersectCount(
          GraftSqlBridge.expression(col("sh_a")),
          GraftSqlBridge.expression(col("sh_b")))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).as("sum_sizes"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("sum_sizes") - col("inter")).as("uni"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
  }

  /**
   * Incremental NEAR-dup ingest: verified Jaccard near-duplicate pairs
   * between a newly-arrived batch and the existing corpus — the MinHash-LSH
   * production shape of [[incrementalNewDocs]], for the daily-crawl case
   * where a new document is a mutated copy (boilerplate swap, snippet edit)
   * of something already ingested, so exact fingerprints miss it.
   *
   * Candidates come from an equi-join of the two sides' LSH band keys
   * instead of [[jaccardNearDupPairs]]'s in-bucket expansion: only
   * (band, bucket, id) coordinates shuffle, and the join fans out
   * |batch∩bucket|·|corpus∩bucket| rows per bucket — linear in the batch's
   * bucket occupancy, never quadratic in the corpus's. At 100 TB the corpus
   * side is a STORED banding (persist [[lshBanded]]'s output bucketed by
   * (band, bucket) with [[graft.sources.Layout]]): each increment then
   * probes state zero-exchange, and only batch docs pay the signature pass.
   *
   * Hot buckets are handled on the corpus side, mirroring
   * [[jaccardNearDupPairs]]'s cap semantics: a corpus bucket holding more
   * than `maxBucketSize` ids is SKIPPED (template spam, not near-dup
   * signal — a qualifying pair still surfaces through any of the other
   * bands-1 bands), and [[lshBucketStats]] over the corpus quantifies the
   * drops for the same parameters. The windowed count that applies the cap
   * runs on the same (band, bucket) shuffle the join needs anyway, so the
   * cap costs no extra exchange.
   *
   * Verification is exact: candidate pairs re-shingle only their own docs
   * (semi-joins on both sides) and count intersections with the sorted
   * merge kernel, so banding only ever costs recall, never precision.
   *
   * @return (batch_id, corpus_id, inter, uni) for verified qualifying
   *         pairs — integer columns only, bit-comparable across engines.
   */
  def incrementalJaccardNearDup(batch: DataFrame, corpus: DataFrame,
      thresholdNum: Int, thresholdDen: Int,
      k: Int = 128, rows: Int = 4, shingleWidth: Int = 5,
      maxBucketSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batchBanded = lshBanded(batch, k, rows, shingleWidth, idCol, textCol)
      .select(col("band"), col("bucket"), col("id").as("batch_id"))
    val corpusBanded = lshBanded(corpus, k, rows, shingleWidth, idCol, textCol)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))

    val capWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val corpusCapped = corpusBanded
      .withColumn("bn", count(lit(1)).over(capWindow))
      .filter(col("bn") <= maxBucketSize)
      .drop("bn")

    val candidates = batchBanded
      .join(corpusCapped, Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()

    def shingled(docs: DataFrame, ids: DataFrame, as: String): DataFrame =
      docs.select(col(idCol).as(as), col(textCol).as("txt"))
        .join(ids, Seq(as), "left_semi")
        .select(col(as), sort_array(shingles(col("txt"), shingleWidth)).as(s"sh_$as"))

    val batchSh = shingled(batch, candidates.select("batch_id"), "batch_id")
    val corpusSh = shingled(corpus, candidates.select("corpus_id"), "corpus_id")
    candidates
      .join(batchSh, "batch_id")
      .join(corpusSh, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        GraftSqlBridge.column(SortedStringIntersectCount(
          GraftSqlBridge.expression(col("sh_batch_id")),
          GraftSqlBridge.expression(col("sh_corpus_id")))).as("inter"),
        (size(col("sh_batch_id")) + size(col("sh_corpus_id"))).as("sum_sizes"))
      .select(col("batch_id"), col("corpus_id"), col("inter"),
        (col("sum_sizes") - col("inter")).as("uni"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .orderBy("batch_id", "corpus_id")
  }

  /** (band, bucket, id) rows only — the LSH shuffle never carries content.
   * Shingled once for signatures; candidates re-shingle only their docs.
   *
   * Band keys hash the band's signature slice: xxhash64 on the fast path;
   * in auditable mode, md5_hash64 of `"band,v1,..,vr"` with the slice
   * values printed as SIGNED decimals — a pure string recipe any engine
   * reproduces byte-for-byte (q92 re-derives the full banding in DuckDB). */
  private[graft] def lshBanded(docs: DataFrame, k: Int, rows: Int, shingleWidth: Int,
      idCol: String, textCol: String, auditable: Boolean = false): DataFrame = {
    val bands = k / rows
    require(k % rows == 0, s"signature length $k must be divisible by rows-per-band $rows")
    def bandKey(b: Int): Column =
      if (auditable)
        graft.operators.Sampling.md5Hash64(
          concat_ws(",", lit(b).cast("string"), concat_ws(",",
            transform(slice(col("sig"), b * rows + 1, rows), _.cast("string")))))
      else Banding.bandKey(col("sig"), b, rows)
    docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleWidth).as("sh"))
      .select(col("id"), minhashSignature(col("sh"), k, auditable).as("sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map(bandKey): _*))
          .as(Seq("band", "bucket")))
  }

  /**
   * Diagnostic companion to [[jaccardNearDupPairs]]: one row summarizing the
   * LSH bucket-size distribution for the same parameters —
   * `(n_buckets, buckets_dropped, largest_bucket)` where `buckets_dropped`
   * counts buckets the pair expansion would skip at `maxBucketSize`.
   *
   * A separate query on purpose: per-run accounting lives in the executor
   * warn log (see [[CollectListCapped]]); this gives the exact counts when a
   * corpus trips the cap and an operator needs to size a fix (bigger cap,
   * wider shingles, template stripping). Cost: the shingle+signature pass
   * and one two-level aggregation — no pair expansion, no joins.
   */
  def lshBucketStats(docs: DataFrame, maxBucketSize: Int = 4096,
      k: Int = 128, rows: Int = 4, shingleWidth: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      auditable: Boolean = false): DataFrame =
    bucketStats(
      lshBanded(docs, k, rows, shingleWidth, idCol, textCol, auditable)
        .select("band", "bucket"),
      maxBucketSize)

  /**
   * Dedup threshold-sensitivity frontier: how many near-dup PAIRS and
   * how many DOCUMENTS qualify at each candidate Jaccard threshold —
   * the tuning read before anyone commits a dedup threshold to a
   * release (a corpus where 3/4→9/10 halves the pair count dedups very
   * differently from one where the frontier is flat). The pair graph
   * is built ONCE at the loosest candidate and every tighter
   * threshold is a post-hoc integer filter on the verified (inter,
   * uni) evidence — the frontier costs |pairs|·|thresholds| summary
   * work on top of one build, never |thresholds| graph builds.
   *
   * Every candidate must be ≥ the loosest threshold the caller trusts
   * the BANDING at (the [[lshCalibrationAudit]] operating point):
   * tighter thresholds only discard verified pairs, so the candidate
   * recall envelope is the loosest point's, uniformly. Candidates
   * where nothing qualifies ship (0, 0) counts, not silence.
   *
   * @param thresholds candidate (num, den) Jaccard thresholds; the
   *        frontier is built at the loosest and filtered to the rest
   * @return one row per candidate, loosest first: (t_num, t_den,
   *         n_pairs, n_docs)
   */
  def thresholdFrontier(docs: DataFrame, thresholds: Seq[(Int, Int)],
      k: Int = 128, rows: Int = 4, shingleWidth: Int = 5,
      maxBucketSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(thresholds.nonEmpty, "need at least one candidate threshold")
    thresholds.foreach { case (n, d) =>
      require(n > 0 && d > 0 && n <= d, s"bad threshold $n/$d") }
    // Duplicate guard compares EXACT cross-multiplied rationals (n1·d2 ==
    // n2·d1): a quantized key (the 1e-6 truncation this replaced) would
    // reject two genuinely distinct thresholds within its resolution.
    require(!thresholds.combinations(2).exists { case Seq(a, b) =>
      BigInt(a._1) * b._2 == BigInt(b._1) * a._2
    }, s"duplicate candidate thresholds: $thresholds")
    val loosest = thresholds.reduceLeft { (a, b) =>
      if (BigInt(a._1) * b._2 <= BigInt(b._1) * a._2) a else b }
    val pairs = jaccardNearDupPairs(docs, loosest._1, loosest._2,
      k = k, rows = rows, shingleWidth = shingleWidth,
      maxBucketSize = maxBucketSize, idCol = idCol, textCol = textCol)
    // Output order (loosest first) is the EXACT rational ascending,
    // computed driver-side over the |thresholds|-sized candidate Seq and
    // carried as a rank — no in-plan quantization of the sort key. The
    // DuckDB oracle reproduces this order with a 1e19-scaled HUGEINT
    // floor, which is exact BECAUSE the thresholds are Int-typed:
    // distinct rationals differ by >= 1/(d1*d2) >= 1/(2^31-1)^2 >
    // 1/1e19, so scaled floors never collide (see the q234 oracle note).
    val orderedTs = thresholds.sortWith { (a, b) =>
      BigInt(a._1) * b._2 < BigInt(b._1) * a._2 }
    val tdf = broadcast(pairs.sparkSession.range(1)
      .select(explode(array(orderedTs.zipWithIndex.map { case ((n, d), i) =>
        struct(lit(n.toLong).as("t_num"), lit(d.toLong).as("t_den"),
          lit(i.toLong).as("t_rank"))
      }: _*)).as("t"))
      .select(col("t.t_num"), col("t.t_den"), col("t.t_rank")))
    // Both counts from ONE reference to the pair plan: every qualifying
    // pair contributes one row per endpoint, so the (threshold, id) groups
    // number n_docs and their sizes sum to 2·n_pairs.
    val counts = pairs.crossJoin(tdf)
      .filter(col("inter") * col("t_den") >= col("uni") * col("t_num"))
      .select(col("t_num"), col("t_den"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("t_num"), col("t_den"), col("id"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("t_num"), col("t_den"))
      .agg(expr("sum(deg) div 2").as("n_pairs"), count(lit(1)).as("n_docs"))
    tdf.join(counts, Seq("t_num", "t_den"), "left")
      .select(col("t_num"), col("t_den"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("t_rank"))
      .orderBy(col("t_rank").asc)
      .drop("t_rank")
  }

  /**
   * LSH OPERATING-POINT calibration audit: for every bucket-collision
   * candidate pair of the AUDITABLE banding, the MinHash agreement
   * estimate (matching signature components out of k — an unbiased
   * estimator of Jaccard, E[matches/k] = J) next to the EXACT shingle
   * Jaccard — the measurement that validates the banding parameters
   * against the corpus they actually run on before anyone trusts the
   * detection-probability curve 1 − (1 − J^rows)^bands. Candidates
   * include the false positives verification would drop; those are the
   * calibration's whole point. Everything ships as integers
   * ((inter, uni) and (sig_matches, sig_k)) so any engine re-derives
   * the audit bit-for-bit — md5-auditable hashing end to end.
   *
   * Scale contract: candidates come from [[Banding.bucketPairs]] with
   * the bucket cap, as in [[jaccardNearDupPairs]] (one aggregation over
   * (band, bucket, id) coordinate rows, hot buckets skipped, never
   * all-pairs); shingle sets and signatures recompute only for the
   * candidate sliver behind a semi-join.
   *
   * @return (id_a, id_b, inter, uni, sig_matches, sig_k) ordered by pair
   */
  def lshCalibrationAudit(docs: DataFrame, k: Int = 16, rows: Int = 4,
      shingleWidth: Int = 10, maxBucketSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val candidates = Banding.bucketPairs(
      lshBanded(docs, k, rows, shingleWidth, idCol, textCol, auditable = true),
      maxBucketSize, grid = 1)
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id")))
    val candSig = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), sort_array(shingles(col("txt"), shingleWidth)).as("sh"))
      .select(col("id"), col("sh"),
        minhashSignature(col("sh"), k, auditable = true).as("sig"))
    candidates
      .join(candSig.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(candSig.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftSqlBridge.column(SortedStringIntersectCount(
          GraftSqlBridge.expression(col("sh_a")),
          GraftSqlBridge.expression(col("sh_b")))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).as("sum_sizes"),
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)).as("sig_matches"))
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        (col("sum_sizes") - col("inter")).cast("long").as("uni"),
        col("sig_matches").cast("long").as("sig_matches"),
        lit(k.toLong).as("sig_k"))
      .orderBy("id_a", "id_b")
  }

  /** Drop-accounting over any (band, bucket) banding — the shared tail of
   * [[lshBucketStats]] and [[simhashBucketStats]]: bucket-count, how many
   * buckets the `maxBucketSize` cap would skip, and the largest bucket. */
  private def bucketStats(banded: DataFrame, maxBucketSize: Int): DataFrame =
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        // coalesce: sum/max over an empty corpus are null, and "one row
        // summarizing" should mean zeros, not NPEs in Long getters
        coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)), lit(0L))
          .as("buckets_dropped"),
        coalesce(max(col("n")), lit(0L)).as("largest_bucket"))

  /** [[bucketStats]] over the SQS(8) simhash banding of
   * [[simhashNearDupPairs]] — the AUDITABLE twin of [[lshBucketStats]].
   * That operator applies no bucket cap (Hamming ≤ 3 completeness needs
   * every in-bucket pair), so `buckets_dropped` counts the buckets a cap
   * of `maxBucketSize` WOULD skip: the hot-bucket read before a run. With
   * `auditable = true` the simhash (and therefore every band key) is
   * md5-derived, so any engine can re-derive the exact
   * `(n_buckets, buckets_dropped, largest_bucket)` row off-Spark. Same
   * cost shape as the minhash variant: one kernel pass, one two-level
   * aggregation. */
  def simhashBucketStats(docs: DataFrame, maxBucketSize: Int = 4096,
      auditable: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bucketStats(
      simhashBanded(docs, auditable, idCol, textCol).select("band", "bucket"),
      maxBucketSize)

  // ------------------------------------------------------ exact ngram jaccard

  /**
   * EXACT word n-gram Jaccard near-duplicate pairs — a set-similarity join
   * with lossless prefix filtering (the AllPairs/PPJoin family), not an
   * approximation: every pair with `thresholdDen·|A∩B| >= thresholdNum·|A∪B|`
   * is guaranteed present, unlike [[jaccardNearDupPairs]] whose MinHash
   * banding is probabilistic.
   *
   * Candidate generation is the prefix filter: order all grams globally by
   * rarity (document frequency asc, then gram), and let each document keep
   * only its `|S| - ceil(t·|S|) + 1` rarest grams as its "prefix". Any pair
   * at Jaccard >= t has `|A∩B| >= t·|A∪B| >= t·max(|A|,|B|)`, so fewer than
   * `|S| - prefix` grams of either side can avoid the intersection — the
   * prefixes must share a gram. An equi-join on prefix grams therefore
   * finds every qualifying pair while never materializing all pairs.
   *
   * Scale contract:
   *  - gram → document-frequency is one vocab-bounded aggregation;
   *  - the candidate shuffle carries (gram, id) PREFIX rows only — at
   *    threshold t each doc contributes at most `(1-t)·|S| + 1` rows, so
   *    tighter thresholds shrink the join superlinearly;
   *  - rare-first ordering pushes corpus-wide template grams into suffixes,
   *    so the hottest grams never reach the join;
   *  - verification re-grams only candidate documents (semi-join), exactly
   *    like the MinHash path.
   *
   * Identity classes are this join's worst case (every member pairs with
   * every other). With `collapseIdentical = true` (the default) the join
   * runs the [[exactDupGroups]] fingerprint collapse FIRST and feeds one
   * canonical doc per class through the prefix filter, then expands the
   * canonical pairs back to member pairs at the end — equal fingerprint
   * means equal normalized text, hence equal token stream and equal gram
   * set, so the expansion reproduces the uncollapsed result EXACTLY while
   * the quadratic in-class candidate blowup never reaches the join. (The
   * within-class pairs come back as `inter = uni = |grams|`, J = 1.)
   *
   * Beyond the prefix filter, two further lossless prunes run before
   * verification (the PPJoin length and positional/suffix filters — see
   * the inline derivation at the candidate aggregation below), so the
   * exact gram intersection only runs on pairs that could still qualify.
   *
   * Gram identity is the auditable 64-bit md5 hash ([[graft.operators.Sampling.md5Hash64]],
   * the same function q35/q15 audit with): every shuffle key, sort key,
   * and intersection element is a long, never a gram string — 4-10× less
   * shuffle payload and numeric compares in the hot loops. Set semantics
   * are over HASHED distinct grams, so any engine with `md5()` re-derives
   * the identical counts (collision odds are 2^-64 per gram pair and,
   * crucially, the same collisions happen in every engine — the oracle is
   * exact, not approximately-right).
   *
   * The verify join references the gram sets twice (a-side and b-side)
   * and the candidate set twice (ids + the join spine). The SLIM
   * (id_a, id_b) candidate table persists unconditionally (16 B/pair,
   * MEMORY_AND_DISK, lazy): AQE's exchange reuse was observed — final
   * adaptive plan at sf0.1 — to share only the first gram exchange
   * between the two candidate consumers, so without the persist the
   * ranked/collision/pair-agg chain executed twice (~1.3 s of the 2.3 s
   * run). The two gram-set references dedupe differently: an id-keyed
   * repartition above the candidate-doc semi-join plants one exchange
   * both verify sides reuse (see ppjoinVerify). Persisting the FULL gram
   * sets as well was MEASURED SLOWER under a full-plan sink (noop) at
   * sf0.1 — 4.6-6.5 s vs 2.9-4.0 s at both 4 and 32 cores — because that
   * cache materializes every gram array of every doc and pays
   * serialization where the pipeline only needs the exploded stream (a
   * `.count()` probe suggests the opposite only because count lets
   * Catalyst prune the verify columns entirely).
   * `materializeCandidates` therefore stays OFF by default and exists for
   * callers fanning the result into several SEPARATE jobs, where exchange
   * reuse cannot apply; it additionally persists the gram sets (hash
   * arrays and id pairs only, never text).
   *
   * @return (id_a, id_b, inter, uni) — integer columns only. UNORDERED
   *         (like every relational result; callers needing a stable order
   *         sort): the former trailing orderBy was a full extra exchange +
   *         AQE stage spent on cosmetics.
   */
  def ngramJaccardPairs(docs: DataFrame, thresholdNum: Int, thresholdDen: Int,
      n: Int = 3, idCol: String = "doc_id", textCol: String = "text",
      materializeCandidates: Boolean = false,
      collapseIdentical: Boolean = true): DataFrame = {
    require(0 < thresholdNum && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0,1], got $thresholdNum/$thresholdDen")
    // Execution profile note (negative result, measured): running
    // this whole plan on the AQE-off child session — the BPE learner's
    // low-latency trick — LOST to adaptive execution under the bench
    // protocol (q59 ~2.0-2.2 s vs ~1.7-1.8 s, q76 2.1 vs 1.3, two full
    // A/B rounds): AQE's concurrent stage materialization and partition
    // coalescing outweigh its per-stage driver latency on this topology.
    // The operator therefore stays on the caller's session.
    // Both paths share one candidate-materialization policy: persist is
    // lazy (no job at construction) and lineage-preserving (executor loss
    // recomputes, never fails the job). Dedup across the verify join's
    // concurrently-submitted map stages is best-effort — same caveat as
    // Similarity.cosineNearDupPairs; materialize with an action first for
    // a hard once-guarantee.
    // Returns (gramSets, verified pairs) — the collapsed path also needs
    // the gram sets for its within-class expansion.
    def ppjoin(d: DataFrame): (DataFrame, DataFrame) = {
      // fanOut only on the UNCOLLAPSED path: the collapse path feeds the
      // already-exchange-fed canonical-docs join, where the guard measured
      // as a regression at both sf0.1 and 10x (q76 2.92 -> 3.50 s).
      val st = ppjoinStages(d, thresholdNum, thresholdDen, n, idCol, textCol,
        fanOut = !collapseIdentical)
      // Persisting gramSets AFTER stage construction still de-duplicates
      // the prefix chain's copy: the cache manager substitutes
      // InMemoryRelation for every canonicalized-equal subtree at
      // planning time, so one cached corpus pass feeds ranking AND both
      // verify branches. (Negative result: replacing this
      // persist with an id-keyed exchange above the gram build — so the
      // scheduler could dedup it as a stage instead of best-effort cache
      // races — benched ~0.45 s WORSE on q59: shuffling the full gram
      // arrays costs more than the residual race.)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // The slim (id_a, id_b) candidate pairs persist UNCONDITIONALLY:
      // verification references them twice (join spine + the exploded
      // candIds semi-join filter), and AQE's exchange reuse was observed
      // (final adaptive plan, sf0.1) to share only the first gram exchange
      // between those branches — the ranked/collision/pair-agg chain ran
      // twice without this. 16 bytes per surviving candidate, spilling and
      // lineage-recoverable, so the cache is bounded by the same candidate
      // volume the verify join materializes anyway.
      val gramSets =
        if (materializeCandidates) st.gramSets.persist(lvl) else st.gramSets
      val candidates = st.candidates.persist(lvl)
      // With gramSets cached, the verify sides re-read the columnar cache
      // instead of re-tokenizing, and under AQE the candIds semi-join
      // promotes to broadcast at runtime — the id-keyed repartition
      // exchange is then pure overhead (see ppjoinVerify's note).
      (gramSets, ppjoinVerify(gramSets, candidates, thresholdNum, thresholdDen,
        sharedGramExchange = !materializeCandidates))
    }
    if (!collapseIdentical) {
      ppjoin(docs)._2
    } else {
      // Identity-class pre-collapse: one PPJoin over canonical docs, then
      // an exact expansion back to member ids (see the scaladoc above for
      // why this is lossless). memberMap rows are (fp, id, cid, nc) from a
      // single window pass over (id, fp) — the only thing that ever
      // shuffles here besides the canonical sliver; text stays in its scan.
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val memberMap = docs
        .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
        .select(col("id"), col("fp"),
          min(col("id")).over(byFp).as("cid"),
          count(lit(1)).over(byFp).as("nc"))
      val canonDocs = docs.select(col(idCol), col(textCol)).join(
        memberMap.filter(col("id") === col("cid")).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")

      val (canonGramSets, canonVerified) = ppjoin(canonDocs)
      val canonPairs = canonVerified
        .select(col("id_a").as("cid_a"), col("id_b").as("cid_b"),
          col("inter"), col("uni"))

      // Cross-class expansion: every member of A's class pairs with every
      // member of B's class at A-B's (inter, uni). Ids re-normalize with
      // least/greatest — members of the two classes need not preserve the
      // canonical order.
      val cross = canonPairs
        .join(memberMap.select(col("cid").as("cid_a"), col("id").as("ma")), Seq("cid_a"))
        .join(memberMap.select(col("cid").as("cid_b"), col("id").as("mb")), Seq("cid_b"))
        .select(least(col("ma"), col("mb")).as("id_a"),
          greatest(col("ma"), col("mb")).as("id_b"), col("inter"), col("uni"))

      // Within-class pairs: J = 1 by construction, inter = uni = |grams|.
      // Classes whose docs produce NO grams (empty/short/null text) emit
      // nothing — the uncollapsed join can never surface such docs either
      // (no gram rows, no candidates), so the expansion must not.
      val gsz = canonGramSets.select(col("id").as("cid"), size(col("gs")).as("gsz"))
      val multis = memberMap.filter(col("nc") > 1)
        .select(col("fp"), col("cid"), col("id"))
      val within = multis.select(col("fp"), col("cid"), col("id").as("ia"))
        .join(multis.select(col("fp"), col("id").as("ib")), Seq("fp"))
        .filter(col("ia") < col("ib"))
        .join(gsz, Seq("cid"))
        .filter(col("gsz") > 0)
        .select(col("ia").as("id_a"), col("ib").as("id_b"),
          col("gsz").as("inter"), col("gsz").as("uni"))

      cross.union(within)
    }
  }

  /** Intermediate relations of the PPJoin pipeline — one builder shared by
   * [[ngramJaccardPairs]] and [[ppjoinCandidateStats]] so the diagnostic
   * instruments exactly the join that runs, and cannot drift from it. */
  private final case class PpjoinStages(
      gramSets: DataFrame,   // (id, gs: array<long>) hashed distinct grams
      prefix: DataFrame,     // (g, m: struct<id, pos, sz>) prefix rows
      collisions: DataFrame, // (p: struct<a, b>) ordered prefix collisions
      lengthPass: Column,    // pair-uniform length-filter predicate over `p`
      candidates: DataFrame) // (id_a, id_b) surviving every lossless prune

  /** The PPJoin length-filter predicate over a collision row `p`: J >= t
   * forces num·max(|A|,|B|) <= den·min(|A|,|B|). All arithmetic in long —
   * sz·threshold can overflow Int for very large documents. */
  private def ppjoinLengthPass(thresholdNum: Int, thresholdDen: Int): Column =
    greatest(col("p.a.sz"), col("p.b.sz")).cast("long") * thresholdNum <=
      least(col("p.a.sz"), col("p.b.sz")).cast("long") * thresholdDen

  /** SMALL-INPUT parallelization guard (round 11, from a cold stage
   * profile): a corpus below `maxPartitionBytes` arrives as ONE scan
   * split, so the tokenize+shingle+hash+sort gram build — this
   * operator's dominant map work — ran single-threaded while the rest of
   * the machine idled (0.46 s of the 4.5 s cold q59 at sf0.1, ~4 s at
   * 10×). Fan such scans out to the cluster's parallelism before the
   * gram build. The text shuffle this plants is bounded by the very
   * smallness that triggers it; at real scale the scan has ample splits
   * and this is a no-op. Applied at the gram-build input (not the whole
   * operator): the identity-collapse path's canonical-docs join is
   * already exchange-fed, and repartitioning ahead of its fingerprint
   * window measured as a pure regression (extra exchange, no
   * parallelism gained — the fp pass is md5-cheap). A SIZE floor keeps
   * the guard off genuinely tiny inputs (sub-megabyte corpora, e.g. a
   * filtered dup slice at sf0.1), where the planted exchange measured as
   * a pure loss (7-pass A/B: 1.31 -> 1.51 s) because the gram build is
   * already cheaper than a shuffle barrier.
   *
   * Size/split signals come from the plan's FILE LEAVES, not
   * `stats.sizeInBytes` / `df.rdd` (round-12 advice): plan-level stats
   * default to a huge sentinel for no-stats relations (the 2 MB floor
   * never bites, planting the exact tiny-input regression the guard
   * documents avoiding), and `.rdd` forces physical planning — with AQE
   * it can materialize upstream stages eagerly at PREPARE time. Split
   * count is estimated as ceil(fileBytes / maxPartitionBytes), the same
   * arithmetic the file-scan planner applies; any leaf that is not a
   * file relation yields no reliable size, so the guard declines to act
   * (a no-op is always safe — the fan-out is an optimization). */
  private[graft] val FanOutMinBytes = 2L << 20

  /** Below [[FanOutMinBytes]] of total leaf size the fan-out stays a
   * no-op: shuffling a tiny TEXT frame costs more than the single task
   * it saves. Measured TWICE — the r11 gram-build negative (1.31 →
   * 1.51 s), and again for the Resample families' slim-projection +
   * B-fold-md5 shape, where spreading the sub-MB sf0.1 documents scan
   * was hypothesized to pay and did NOT (4 CI/test rows solo at sf0.1:
   * 4.42 s with the floor removed vs 4.11 s with it — the exchange
   * barrier beats the parallelism even under a 200× row expansion, so
   * the floor stays unconditional). */
  private[graft] def fanOutSmallScan(docs: DataFrame): DataFrame = {
    val minBytes: Long = FanOutMinBytes
    val spark = docs.sparkSession
    val defaultPar = spark.sparkContext.defaultParallelism
    val leafBytes = docs.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(fs.sizeInBytes)
          case _ => None
        }
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        // Driver-local data: exact size, parallelized (never split-starved
        // by file geometry) — contributes bytes but no single-split risk.
        Some(lr.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      case _ => None
    }
    if (leafBytes.isEmpty || leafBytes.exists(_.isEmpty)) docs
    else {
      val total = leafBytes.flatten.sum
      val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
      val estSplits = (total + maxSplit - 1) / maxSplit
      if (total > minBytes && estSplits * 2 < defaultPar)
        docs.repartition(defaultPar)
      else docs
    }
  }

  private def ppjoinStages(docsIn: DataFrame, thresholdNum: Int, thresholdDen: Int,
      n: Int, idCol: String, textCol: String,
      tap: (String, DataFrame) => DataFrame = (_, d) => d,
      gramSetsTransform: DataFrame => DataFrame = identity,
      fanOut: Boolean = true): PpjoinStages = {
    val docs = if (fanOut) fanOutSmallScan(docsIn) else docsIn
    // sort_array establishes SortedLongIntersectCount's input contract at
    // set-build time: one O(m log m) sort per document buys an O(|a|+|b|)
    // allocation-free merge count per candidate pair in the verify join
    // (each doc's set is intersected against every partner it survives
    // the filters with, so build-once/probe-many is the right trade).
    // `gramSetsTransform` lets the caller plant a shared exchange above
    // the gram build (see ngramJaccardPairs): everything downstream —
    // the prefix chain here and the verify sides — then consumes the
    // SAME materialized stage instead of racing to rebuild a cache whose
    // lineage has no shuffle for the scheduler to dedup.
    val gramSets = gramSetsTransform(docs.select(col(idCol).as("id"),
      sort_array(array_distinct(transform(
        wordShingles(TextAnalysis.tokens(col(textCol)), n),
        g => graft.operators.Sampling.md5Hash64(g)))).as("gs")))
    val gramDoc = tap("gramDoc",
      gramSets.select(col("id"), explode(col("gs")).as("g")))
    // Document frequency as an unbounded-frame window count: one exchange
    // on the gram and NO sort (no orderBy in the spec), where a separate
    // aggregate + equi-join would shuffle the gram stream twice. Measured
    // ~1.5× faster on the prefix stage at sf0.1.
    val withDf = gramDoc.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("g")))

    // Rare-first per-doc gram order under the global (df, gram) total order;
    // prefix length L = |S| - ceil(t|S|) + 1 = floor((den-num)·|S|/den) + 1.
    // Sizes are positive so the int cast of the double division is floor.
    val ranked = tap("ranked", withDf
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ranked")))
    val prefixLen = (size(col("ranked")).cast("long") *
      (thresholdDen - thresholdNum) / thresholdDen).cast("int") + 1
    // Prefix rows carry (gram, id, pos, sz): pos = 1-based rank of the gram
    // in the doc's rare-first order, sz = |S| — the inputs of the PPJoin
    // positional and length filters below.
    val prefix = ranked.select(col("id"), size(col("ranked")).as("sz"),
      posexplode(slice(transform(col("ranked"), r => r.getField("g")),
        lit(1), prefixLen)).as(Seq("pos0", "g")))
      .select(col("g"),
        struct(col("id"), (col("pos0") + 1).as("pos"), col("sz")).as("m"))

    // Expand per-gram groups instead of self-joining: one aggregation over
    // the prefix rows, no re-evaluation of the ranking subtree per side.
    // No cap — this is the exact join; see the identity-class note above.
    // [[PairCollisionsExplode]] STREAMS the m·(m−1)/2 (i, j > i) pairs per
    // group through GenerateExec, ids normalized to a.id < b.id — the
    // former nested-lambda Column formulation materialized the full pair
    // array per group and its tree was a measurable slice of this
    // pipeline's driver planning time.
    val collisions = tap("collisions", tap("grouped",
      prefix.groupBy("g").agg(collect_list(col("m")).as("ms")))
      .filter(size(col("ms")) > 1)
      .select(GraftSqlBridge.column(
        PairCollisionsExplode(GraftSqlBridge.expression(col("ms"))))))

    // LOSSLESS prune 1 — length filter: J >= t forces
    // num·max(|A|,|B|) <= den·min(|A|,|B|). Pair-uniform (every collision
    // of a pair agrees), so applying it BEFORE the per-pair aggregation
    // below cannot disturb the collision count k. All arithmetic in long:
    // sz·threshold can overflow Int for very large documents.
    val lengthPass = ppjoinLengthPass(thresholdNum, thresholdDen)

    // LOSSLESS prune 2 — positional/suffix filter, aggregated over ALL of
    // a pair's prefix collisions (PPJoin). Both gram lists follow the same
    // global (df, gram) order, so the pair's common grams are monotone in
    // both lists: every common gram before the LAST colliding prefix gram
    // (positions pa* = max pa, pb* = max pb — the same gram attains both
    // maxima) is itself a prefix-prefix collision, hence counted by
    // k = |collisions|. Common grams after it number at most
    // min(|A|-pa*, |B|-pb*), giving the exact-overlap bound
    //   |A∩B| <= k + min(|A|-pa*, |B|-pb*),
    // while J >= t needs |A∩B|·(num+den) >= (|A|+|B|)·num. Strictly
    // tighter than the classic first-collision bound (each extra collision
    // adds 1 to k but shrinks the min term by at least 1 on both sides),
    // and it replaces the candidate .distinct() with a same-shuffle
    // aggregation — the verification sliver gets smaller for free.
    // LOSSLESS prune 3 — the PPJoin self-join INDEX-prefix condition: a
    // qualifying pair's overlap also satisfies O >= 2t/(1+t)·min(|A|,|B|)
    // (from O >= t/(1+t)·(|A|+|B|) and |A|+|B| >= 2·min), so the SMALLER
    // side must share a gram inside its tighter index prefix of length
    // |S| − ceil(2·num·|S|/(num+den)) + 1 — and the FIRST common gram in
    // the global order provably lies there (else all common grams sit
    // past it and O < its own bound, contradiction; Xiao et al.'s PPJoin
    // completeness argument). A pair none of whose collisions puts the
    // smaller doc inside its index prefix can therefore never qualify.
    // Honesty note: on the sf0.1 synthetic corpus this prunes ~nothing —
    // rare-first ordering concentrates collisions at LOW positions, so
    // the smaller side is almost always inside its index prefix already.
    // It costs one aggregated byte per pair and bites exactly where the
    // join hurts: corpora whose pairs collide only on late (common)
    // prefix grams — template-heavy crawls at loose thresholds.
    val candidates = collisions
      .filter(lengthPass)
      .groupBy(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"))
      .agg(count(lit(1)).as("k"),
        max(col("p.a.pos")).as("pa"), max(col("p.b.pos")).as("pb"),
        first(col("p.a.sz")).as("sza"), first(col("p.b.sz")).as("szb"),
        max(when(ppjoinIndexHit(thresholdNum, thresholdDen), 1).otherwise(0))
          .as("idxhit"))
      .filter(col("idxhit") === 1)
      .filter((col("k") + least(col("sza").cast("long") - col("pa"),
          col("szb").cast("long") - col("pb"))) * (thresholdNum + thresholdDen) >=
        (col("sza").cast("long") + col("szb")) * thresholdNum)
      .select(col("id_a"), col("id_b"))
    PpjoinStages(gramSets, prefix, collisions, lengthPass, candidates)
  }

  /** Collision-level index-prefix test over a collision row `p` (see the
   * prune-3 comment in [[ppjoinStages]]): whichever side is smaller must
   * have its colliding gram at position <= |S| − ceil(2·num·|S|/(num+den))
   * + 1. Long arithmetic throughout. */
  private def ppjoinIndexHit(thresholdNum: Int, thresholdDen: Int): Column = {
    val nd = thresholdNum + thresholdDen
    // Li(sz) = sz − ceil(2·num·sz/(num+den)) + 1, all-integer via
    // (2·num·sz + nd − 1) div nd; `div` keeps it in long arithmetic.
    def li(sz: String): String =
      s"(CAST($sz AS BIGINT) - " +
        s"(CAST($sz AS BIGINT) * ${2L * thresholdNum} + ${nd - 1}) div $nd + 1)"
    expr(s"(p.a.sz <= p.b.sz AND p.a.pos <= ${li("p.a.sz")}) OR " +
      s"(p.b.sz <= p.a.sz AND p.b.pos <= ${li("p.b.sz")})")
  }

  /** Exact-verification tail of the PPJoin: re-gram only candidate docs
   * (semi-join sliver), intersect, and apply the threshold rational.
   * Unordered — callers sort. */
  private def ppjoinVerify(gramSets: DataFrame, candidates: DataFrame,
      thresholdNum: Int, thresholdDen: Int,
      tapPre: DataFrame => DataFrame = identity,
      sharedGramExchange: Boolean = true): DataFrame = {
    // explode instead of a two-select union: the candidate aggregation
    // subtree appears once in this branch, not twice.
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
    // The id-keyed repartition plants an exchange ABOVE the gram-build +
    // semi-join so ReuseExchange shares ONE tokenize/shingle/md5 pass of
    // the candidate docs across the a-side and b-side joins below — the
    // two consumers differ only in projections above the exchange, so
    // their exchange subtrees canonicalize equal. Without it each side
    // recomputes the gram build (pure map, no exchange, nothing to
    // reuse): measured ~0.3 s of the sf0.1 q59 run. The exchange carries
    // candidate-doc hash arrays only (never text), the same payload the
    // join would shuffle anyway under the at-scale SMJ plan.
    // `sharedGramExchange = false` is viable ONLY under adaptive
    // execution (AQE promotes the tiny candIds side to a broadcast semi
    // at runtime); under the fixed-plan low-latency profile the static
    // planner turns it into TWO full sort-merge semi-join passes over the
    // gram table — measured ~0.9 s WORSE at sf0.1. The repartition is
    // also the at-scale-correct shape, so it stays the default.
    val semi = gramSets.join(candIds, Seq("id"), "left_semi")
    val candSets = if (sharedGramExchange) semi.repartition(col("id")) else semi
    val pre = tapPre(candidates
      .join(candSets.select(col("id").as("id_a"), col("gs").as("gs_a")), "id_a")
      .join(candSets.select(col("id").as("id_b"), col("gs").as("gs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // Codegen'd two-pointer merge count over the sorted gram sets —
        // see SortedLongIntersectCount for why this beats
        // size(array_intersect(...)) in the per-candidate hot loop.
        GraftSqlBridge.column(SortedLongIntersectCount(
          GraftSqlBridge.expression(col("gs_a")),
          GraftSqlBridge.expression(col("gs_b")))).as("inter"),
        (size(col("gs_a")) + size(col("gs_b"))).as("sum_sizes")))
    pre
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("sum_sizes") - col("inter")).as("uni"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
  }

  /**
   * Diagnostic companion to [[ngramJaccardPairs]] (the PPJoin mirror of
   * [[lshBucketStats]]): one row quantifying candidate volume at every
   * lossless stage of the prefix-filter pipeline, over the UNCOLLAPSED
   * corpus —
   * `(n_docs, n_docs_with_grams, n_gram_rows, n_prefix_rows, n_hot_grams,
   * largest_group, n_collisions, n_length_pass, n_candidates, n_pairs)`.
   *
   * At 100 TB this is the number an operator reads BEFORE running a
   * q59-shaped join: `largest_group` spots template grams that survived
   * into prefixes, `n_collisions → n_length_pass → n_candidates` shows
   * which prune is carrying the load, and `n_candidates / n_pairs` is the
   * verification hit rate. Cost: the prefix pipeline plus counting
   * aggregations — no verification join beyond the final `n_pairs` count.
   */
  def ppjoinCandidateStats(docs: DataFrame, thresholdNum: Int, thresholdDen: Int,
      n: Int = 3, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(0 < thresholdNum && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0,1], got $thresholdNum/$thresholdDen")
    // Stage counts ride the SAME jobs that run the join, as `observe`
    // aggregates (the connectedComponents convergence pattern): one eager
    // checkpoint materializes the candidate pipeline exactly once —
    // filling the four stage observations below — and verification then
    // consumes the checkpointed table, so its three references recompute
    // nothing and no observed subtree can ever run (and count) twice.
    // Measured ~2.4× faster than five independent aggregation plans.
    import org.apache.spark.sql.Observation
    val oGram = Observation()
    val oRank = Observation()
    val oGrp = Observation()
    val oColl = Observation()
    val oPre = Observation()
    val tap = (name: String, df: DataFrame) => name match {
      case "gramDoc" => df.observe(oGram, count(lit(1)).as("n_gram_rows"))
      case "ranked" => df.observe(oRank, count(lit(1)).as("n_docs_with_grams"))
      // One observation over prefix-group sizes covers rows, hot grams,
      // the largest group, and the collision count (sum of m·(m−1)/2 —
      // long arithmetic, integer `div`, no doubles).
      case "grouped" => df.observe(oGrp,
        coalesce(sum(size(col("ms")).cast("long")), lit(0L)).as("n_prefix_rows"),
        coalesce(sum(when(size(col("ms")) > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_hot_grams"),
        coalesce(max(size(col("ms")).cast("long")), lit(0L)).as("largest_group"),
        coalesce(sum(expr("CAST(size(ms) AS BIGINT) * (size(ms) - 1) div 2")),
          lit(0L)).as("n_collisions"))
      case "collisions" => df.observe(oColl,
        coalesce(sum(when(ppjoinLengthPass(thresholdNum, thresholdDen), 1L)
          .otherwise(0L)), lit(0L)).as("n_length_pass"))
      case _ => df
    }
    // Runs on the caller's session — the AQE-off child-session profile
    // was A/B-measured slower here too (see the note in
    // [[ngramJaccardPairs]]).
    val docsQ = docs
    val st = ppjoinStages(docsQ, thresholdNum, thresholdDen, n, idCol, textCol, tap)
    // The gram build feeds the observed candidate chain AND the verify
    // count below; persisting it (hash arrays only, no text) lets the
    // checkpoint job populate the cache once and the verify count read it
    // back instead of re-tokenizing the corpus. No observe sits on or
    // below gramSets, so the cache substitution cannot double-fire a
    // counter. Measured: the duplicate gram build was the single
    // heaviest verify-side stage of this diagnostic.
    val gramSets = st.gramSets
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = st.candidates.localCheckpoint(true)
    val verified = ppjoinVerify(gramSets, cand, thresholdNum, thresholdDen,
      // every candidate pair joins exactly one gs_a and one gs_b row, so
      // the pre-threshold row count IS the candidate count
      tapPre = df => df.observe(oPre, count(lit(1)).as("n_candidates")),
      sharedGramExchange = false) // gramSets cached above; AQE session
    val nPairs = verified.count()
    val nDocs = docsQ.count()
    cand.unpersist()
    gramSets.unpersist(blocking = false)
    // `get` blocks until the observing action completes; the KEY may still
    // be absent — PropagateEmptyRelation prunes CollectMetrics nodes clean
    // out of an empty-corpus plan — and a sum over zero rows is null.
    def g(o: Observation, k: String): Long = o.get.get(k) match {
      case None | Some(null) => 0L
      case Some(x: Number) => x.longValue()
      case Some(other) => sys.error(s"unexpected metric type for $k: $other")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((nDocs, g(oRank, "n_docs_with_grams"), g(oGram, "n_gram_rows"),
      g(oGrp, "n_prefix_rows"), g(oGrp, "n_hot_grams"),
      g(oGrp, "largest_group"), g(oGrp, "n_collisions"),
      g(oColl, "n_length_pass"), g(oPre, "n_candidates"), nPairs))
      .toDF("n_docs", "n_docs_with_grams", "n_gram_rows", "n_prefix_rows",
        "n_hot_grams", "largest_group", "n_collisions", "n_length_pass",
        "n_candidates", "n_pairs")
  }

  // ----------------------------------------------------------------- simhash

  /** The 14 blocks of the Steiner quadruple system SQS(8), realized as the
   * planes of AG(3,2): chunk indices 0..7 read as GF(2)^3 points, one
   * block per affine equation a·x = b (7 nonzero functionals × 2 cosets).
   * Every 3-subset of chunks lies in exactly one block, and blocks are
   * closed under complement — so any ≤ 3 damaged chunks leave at least one
   * block fully intact (the complement of the block containing them). */
  private[graft] val Sqs8Blocks: Seq[Seq[Int]] =
    for (a <- 1 to 7; b <- 0 to 1)
      yield (0 to 7).filter(x => Integer.bitCount(a & x) % 2 == b)

  /**
   * Near-duplicate pairs by SimHash: the 64-bit simhash splits into eight
   * 8-bit chunks and candidates share at least one of 14 chosen 4-chunk
   * bands (each packed into one 32-bit band key), verified by exact
   * Hamming distance.
   *
   * Why 4-chunk bands instead of the classic 1-of-4 16-bit chunks:
   * completeness is the same — `maxHamming` ≤ 3 flipped bits damage at
   * most 3 chunks, leaving a fully intact band (see below) — but the
   * band-key space grows from 2^16 to 2^32. With 16-bit chunks the
   * candidate count is Θ(n²/2^16) BY CONSTRUCTION (65,536 buckets per
   * chunk can't keep n=10^9 docs apart: ~10^13 background collisions);
   * 32-bit keys push the same corpus to ~10^10 — the difference between a
   * dead stage and a heavy-but-finishing one.
   *
   * Why exactly 14 bands and not all C(8,4) = 70 4-subsets: the 14 blocks
   * of the Steiner quadruple system SQS(8) — the planes of AG(3,2),
   * [[Sqs8Blocks]] — already cover every damage pattern. Any ≤ 3 flipped
   * chunks extend to a triple, SQS puts that triple inside exactly one
   * block, and that block's complement is itself a block sharing no chunk
   * with the damage — an intact band. Same Hamming ≤ 3 completeness at
   * 1/5 the banding fan-out: 14 rows × 32 bytes ≈ 0.45 KB/doc on the
   * shuffle (the covering property is asserted exhaustively in DedupSpec;
   * document payloads never ride this shuffle at all).
   */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
      auditable: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3, "SQS(8) 4-chunk banding is complete only for Hamming <= 3")
    // Uncapped: a skipped bucket would break Hamming <= 3 completeness.
    // The sim rides the band members, so each candidate pair is verified
    // where it is enumerated: no second simhash pass over the text and no
    // join back to an (id, sim) table.
    Banding.bucketPairs(simhashBanded(docs, auditable, idCol, textCol),
        Banding.Uncapped, grid = 1)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /**
   * Incremental SimHash near-dup ingest — the Hamming-distance member of
   * the incremental trio ([[incrementalNewDocs]] exact,
   * [[incrementalJaccardNearDup]] MinHash): batch band keys equi-join the
   * stored corpus banding, candidates verified by exact 64-bit Hamming
   * distance. The SQS(8) banding is COMPLETE for Hamming <= 3, so unlike
   * the MinHash path this one is exact by construction, not just at an
   * operating point. Same scale contract as the jaccard variant: the join
   * fans out linearly in the batch's bucket occupancy, (band, bucket, id)
   * coordinates only, and at 100 TB the corpus banding is stored state
   * probed zero-exchange by each increment.
   *
   * @return (batch_id, corpus_id, hamming) for verified pairs.
   */
  def incrementalSimhashNearDup(batch: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3, auditable: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3, "SQS(8) 4-chunk banding is complete only for Hamming <= 3")
    def simOf(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        simhash64(TextAnalysis.tokens(col(textCol)), auditable).as(s"sim_$as"))
    val bb = simhashBanded(batch, auditable, idCol, textCol)
      .select(col("band"), col("bucket"), col("id").as("batch_id"))
    val cb = simhashBanded(corpus, auditable, idCol, textCol)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
    bb.join(cb, Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
      .join(simOf(batch, "batch_id"), "batch_id")
      .join(simOf(corpus, "corpus_id"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("sim_batch_id").bitwiseXOR(col("sim_corpus_id"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("batch_id", "corpus_id")
  }

  /** (id, sim, band, bucket) rows of the SQS(8) simhash banding — 32
   * bytes per row, no text on the fan-out. The 8-byte sim rides it so
   * [[simhashNearDupPairs]] verifies candidates inside the bucket
   * aggregation; recomputing it instead means a second tokenize-and-hash
   * pass over every document's text plus two joins back. Shared with
   * [[simhashBucketStats]] (drop accounting) and
   * [[incrementalSimhashNearDup]], so the audited stats describe the
   * exact banding the pairs come from. */
  private def simhashBanded(docs: DataFrame, auditable: Boolean,
      idCol: String, textCol: String): DataFrame = {
    val chunk = (c: Int) => shiftright(col("sim"), c * 8).bitwiseAND(0xFFL)
    val bandKeys = Sqs8Blocks.map { s =>
      s.zipWithIndex.map { case (c, pos) =>
        shiftleft(chunk(c), (3 - pos) * 8)
      }.reduce(_ bitwiseOR _)
    }
    docs.select(col(idCol).as("id"),
        simhash64(TextAnalysis.tokens(col(textCol)), auditable).as("sim"))
      .select(col("id"), col("sim"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")))
  }

  // ---------------------------------------------------------- span scrubbing

  /**
   * (id, start, gh) for every `w`-token window whose CONTENT may repeat
   * across documents: a Rabin–Karp fingerprint pass finds the windows
   * whose fingerprints collide across docs (lossless — equal strings
   * fingerprint equal), and only that sliver pays the md5-64 the repeat
   * identity is defined by (auditable off-Spark; the oracle re-derives
   * it). The fingerprint pass is one O(bytes) kernel per document
   * ([[graft.text.RollingSpanHashes]]) versus an md5 per window — md5 was
   * ~2/3 of q64/q78's runtime at sf0.1, and the sliver is the set of
   * genuinely-repeated windows, which a healthy corpus keeps small.
   * Callers must still apply their own per-gh filters: this table holds
   * ALL occurrences of every fingerprint-candidate group (a superset of
   * every cross-doc md5 group).
   */
  private def confirmedSpans(base: DataFrame, w: Int,
      crossDocOnly: Boolean = true): DataFrame = {
    val rolled = base.select(col("id"),
      posexplode(GraftSqlBridge.column(graft.text.RollingSpanHashes(
        GraftSqlBridge.expression(col("ts")), w))).as(Seq("pos0", "rh")))
      .select(col("id"), (col("pos0") + 1).as("start"), col("rh"))
    // crossDocOnly = false widens the candidate rule to TOTAL occurrence
    // count (a window repeated twice inside one doc is a candidate) —
    // the prefilter must match the downstream threshold's universe or
    // self-repeats would be silently dropped here. Still lossless.
    val candidates = rolled.groupBy("rh")
      .agg((if (crossDocOnly) count_distinct(col("id"))
        else count(lit(1))).as("nd"))
      .filter(col("nd") > 1)
      .select("rh")
    // Re-attach the token arrays for candidate windows only, then compute
    // the md5 identity on that sliver. Tokens bound to a column FIRST:
    // referenced from inside a lambda as a raw expression they would
    // re-tokenize once per window (the q64 cliff — see PERF.md).
    rolled.join(candidates, "rh")
      .select(col("id"), col("start"))
      .join(base, "id")
      .select(col("id"), col("start"),
        graft.operators.Sampling.md5Hash64(
          concat_ws(" ", slice(col("ts"), col("start"), lit(w)))).as("gh"))
  }

  /** All occurrences of every repeated `w`-token span, as (id, start,
   * gh) coordinates — q64's detection surface and the input to
   * [[spanDedupScrub]]'s keeper selection. By default a span counts as
   * repeated iff it appears in ≥ `minDocs` DISTINCT documents
   * (cross-document duplication); `selfRepeats = true` switches the
   * threshold to ≥ `minDocs` TOTAL occurrences corpus-wide, so a span
   * repeated twice inside ONE document also qualifies — Lee et al.
   * 2022's exact ExactSubstr universe (their suffix array counts
   * occurrences, not documents). */
  def repeatedSpans(docs: DataFrame, w: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2, selfRepeats: Boolean = false): DataFrame = {
    require(w > 0, s"span width must be positive, got $w")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    val spans = confirmedSpans(base, w, crossDocOnly = !selfRepeats)
    // minDocs raises the duplicate-count threshold (the ExactSubstr
    // count knob; documents or total occurrences per `selfRepeats`);
    // the Rabin-Karp prefilter inside confirmedSpans stays at >= 2 over
    // the matching universe — a lossless superset of any higher
    // threshold.
    val repeated = spans.groupBy("gh")
      .agg((if (selfRepeats) count(lit(1))
        else count_distinct(col("id"))).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    spans.join(repeated, "gh")
      .select(col("id").as(idCol), col("start"), col("gh"))
  }

  /**
   * Cross-split SPAN-LEAKAGE audit: documents whose `w`-token spans also
   * appear verbatim in a DIFFERENT split of the same corpus — the classic
   * train/eval contamination bug (a benchmark answer, a license block, a
   * boilerplate paragraph shared across the boundary inflates eval
   * scores), caught at span resolution where document-level dedup sees
   * nothing. `splitCol` is any assignment expression; the deterministic
   * [[graft.operators.Sampling.splitColumn]] is the intended producer, so
   * the audit re-derives in any engine.
   *
   * A span leaks iff its md5-64 content hash occurs in ≥2 DISTINCT
   * splits (cross-split implies cross-document, so the repeated-span
   * pipeline's Rabin–Karp prefilter applies losslessly). Output is one
   * row per (document, split) carrying how many of its span occurrences
   * are leaky and where the first one starts — q64's per-doc shape, fed
   * by the same windows, so the two audits compose.
   *
   * Scale contract: identical to [[repeatedSpans]] (coordinate rows,
   * never text) plus one narrow (id, split) join and |leaky-hash|-bounded
   * aggregations.
   *
   * @return (idCol, split, n_leaky_spans, first_leaky_start)
   */
  def crossSplitSpanLeakage(docs: DataFrame, splitCol: Column, w: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = repeatedSpans(docs, w, idCol, textCol)
    val assign = docs.select(col(idCol), splitCol.as("split"))
    val spl = spans.join(assign, Seq(idCol))
    val leaky = spl.groupBy("gh")
      .agg(count_distinct(col("split")).as("nsp"))
      .filter(col("nsp") > 1)
      .select("gh")
    spl.join(leaky, "gh")
      .groupBy(col(idCol), col("split"))
      .agg(count(lit(1)).as("n_leaky_spans"),
        min(col("start")).cast("long").as("first_leaky_start"))
  }

  /**
   * Substring-level dedup SCRUB: remove cross-document repeated token
   * spans from every document, keeping exactly one occurrence corpus-wide
   * — the apply step downstream of repeated-span DETECTION (q64's
   * coordinates), in the style of span-level training-data dedup: long
   * verbatim repeats (licenses, navigation chrome, quoted boilerplate)
   * are deleted everywhere except their first occurrence.
   *
   * Semantics, fully deterministic:
   *  - a span is any `w`-token window (stride 1) whose md5-64 hash occurs
   *    in MORE THAN ONE document (within-doc repetition is repetition, not
   *    cross-doc duplication — q34's filters own that signal);
   *  - for each such hash, the occurrence with the smallest `(id, start)`
   *    is the KEEPER; every other occurrence marks its `w` token positions
   *    for removal;
   *  - a document's cleaned text is its surviving tokens joined by single
   *    spaces (whitespace is not preserved — the output feeds tokenizers,
   *    not renderers). A keeper's tokens can still fall to an OVERLAPPING
   *    removed span; removal is coverage-based, which keeps the rule
   *    one-pass and engine-reproducible.
   *
   * Scale contract: the shuffle carries (hash, id, start) coordinate rows
   * and per-doc removal-start arrays — never text. Removal itself is a
   * per-row projection (`filter` over the token array against the doc's
   * own removal starts, at most |tokens| · |spans| compares against
   * arrays bounded by document length). Output: (idCol, n_tokens,
   * n_removed, clean_text).
   */
  def spanDedupScrub(docs: DataFrame, w: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w > 0, s"span width must be positive, got $w")
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    val spans = confirmedSpans(base, w)
    val repeated = spans.groupBy("gh")
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") > 1)
      .select("gh")
    // Keeper = the minimum (id, start) struct per hash — a partially
    // aggregating min (map-side combine, no sort), where a row_number
    // window would shuffle AND sort the whole span stream just to pick
    // one row per hash. Everyone else contributes a removal interval
    // [start, start + w - 1].
    val keepers = spans.join(repeated, "gh")
      .groupBy("gh")
      .agg(min(struct(col("id"), col("start"))).as("keep"))
    val removals = spans.join(keepers, "gh")
      .filter(struct(col("id"), col("start")) =!= col("keep"))
      .groupBy("id")
      .agg(collect_list(col("start")).as("rs"))
    base.join(removals, Seq("id"), "left")
      .withColumn("rsx", coalesce(col("rs"), array().cast("array<int>")))
      .withColumn("kept", filter(col("ts"), (t, i) =>
        !exists(col("rsx"), s => s <= i + 1 && i + 1 <= s + (w - 1))))
      .select(col("id").as(idCol),
        coalesce(size(col("ts")), lit(0)).cast("long").as("n_tokens"),
        coalesce(size(col("ts")) - size(col("kept")), lit(0)).cast("long")
          .as("n_removed"),
        coalesce(concat_ws(" ", col("kept")), lit("")).as("clean_text"))
  }

  // ------------------------------------ cross-document ExactSubstr dedup

  /**
   * Duplicated-coverage islands: per document, the maximal contiguous
   * runs of token positions covered by a `w`-token window whose content
   * repeats in ≥2 distinct documents. Shared core of
   * [[exactSubstrSpans]] / [[exactSubstrScrub]].
   *
   * Islands from sorted window starts without materializing positions:
   * windows have EQUAL length, so with starts sorted per doc the
   * coverage of window i+1 is contiguous with the running island iff
   * start(i+1) ≤ start(i) + w (overlap, or exact adjacency — both fuse
   * a covered run); a larger gap opens a new island. One lag + running
   * sum over (id, start) coordinate rows — text never reaches this
   * window, and the per-doc partition is the natural span-merge
   * parallelism at any corpus size. Output: (id, span_start, span_end),
   * both 1-based inclusive token positions.
   */
  private def exactSubstrIslands(docs: DataFrame, w: Int, minDocs: Int,
      selfRepeats: Boolean, idCol: String, textCol: String): DataFrame =
    coverageIslands(
      repeatedSpans(docs, w, idCol, textCol, minDocs, selfRepeats)
        .select(col(idCol).as("id"), col("start")), w)

  /** The island fold over any (id, start) occurrence table: merge the
   * w-length windows at `start` into maximal covered runs per id (the
   * lag/sum rule documented on [[exactSubstrIslands]]). Coordinates
   * only; the per-id window partition is the merge parallelism. */
  private def coverageIslands(occ: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("id")).orderBy(col("start"))
    occ
      .withColumn("gap",
        when(col("start") - lag(col("start"), 1).over(byDoc) > lit(w), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("gap")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(w - 1)).as("span_end"))
  }

  /** Shared excision tail: delete every token position of `base`
   * (id, ts) covered by an island, rebuild the cleaned stream, account.
   * The islands collapse to one (spans array, count) row per AFFECTED
   * id and reach the token scan as a broadcast sliver; removal is a
   * per-row filter against the doc's own spans. */
  private def exciseIslands(base: DataFrame, islands: DataFrame,
      idCol: String): DataFrame = {
    val perDoc = islands
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start").cast("int").as("s"),
          col("span_end").cast("int").as("e"))).as("rm"),
        count(lit(1)).as("n_spans"))
    base.join(perDoc, Seq("id"), "left")
      .withColumn("rmx",
        coalesce(col("rm"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept", filter(col("ts"), (t, i) =>
        !exists(col("rmx"), r =>
          r.getField("s") <= i + 1 && i + 1 <= r.getField("e"))))
      .select(col("id").as(idCol),
        coalesce(size(col("ts")), lit(0)).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(size(col("ts")) - size(col("kept")), lit(0)).cast("long")
          .as("n_removed"),
        coalesce(concat_ws(" ", col("kept")), lit("")).as("clean_text"))
  }

  /**
   * Cross-document repeated-substring DETECTION (the ExactSubstr half
   * of Lee et al. 2022, "Deduplicating Training Data Makes Language
   * Models Better", §4.1 — doc-level exact/near/soft dedup is the other
   * half and ships separately): every MAXIMAL token span duplicated
   * verbatim across documents at length ≥ `minLen`, as (doc, start,
   * len) coordinates.
   *
   * Equivalence to the suffix-array formulation, at token granularity:
   * a position p of doc d lies inside a cross-document duplicated
   * substring of length ≥ L iff some L-token window containing p is
   * duplicated in another document (a duplicated M ≥ L span yields
   * M−L+1 duplicated windows covering all M positions; conversely a
   * duplicated window IS a duplicated L-span). So the stride-1
   * window-hash coverage set equals Lee et al.'s dedup set exactly —
   * no suffix array needed, and the window pass distributes where a
   * suffix array build does not. Merged islands are therefore the
   * maximal duplicated-coverage spans (an island may splice overlapping
   * matches against DIFFERENT partner docs into one span — the same
   * union ExactSubstr's byte-range merge performs).
   *
   * Scale contract: [[repeatedSpans]]' — the Rabin–Karp rolling
   * prefilter finds candidate windows in one O(bytes) kernel pass per
   * doc, only the genuinely-repeated sliver pays the md5-64 identity,
   * and nothing but (id, start, hash) coordinates ever shuffles; the
   * span merge is a lag/sum window over those coordinates partitioned
   * by doc. Within-doc-only repetition is excluded by construction
   * (hash must span ≥2 DISTINCT docs — q34's filters own pure
   * self-repetition).
   *
   * `minDocs` is the duplicate-count threshold of the released tool's
   * count knob, at WINDOW resolution: a window is duplicated iff its
   * content appears in ≥ `minDocs` distinct documents (default 2 = any
   * cross-doc repeat; raise it so a two-document quotation — possibly
   * legitimate citation — survives while 100-document boilerplate does
   * not). `selfRepeats = true` switches the count to TOTAL occurrences
   * so within-document repetition qualifies too — Lee et al.'s exact
   * occurrence-counting universe (the default stays cross-document,
   * leaving pure self-repetition to q34's filters).
   *
   * @return (`idCol`, span_start, span_len) — 1-based token position,
   *         span_len ≥ `minLen`; docs with no duplicated coverage emit
   *         no rows
   */
  def exactSubstrSpans(docs: DataFrame, minLen: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2, selfRepeats: Boolean = false): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    exactSubstrIslands(docs, minLen, minDocs, selfRepeats, idCol, textCol)
      .select(col("id").as(idCol),
        col("span_start").cast("long").as("span_start"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"))
  }

  /**
   * Cross-document repeated-substring EXCISION — the apply step over
   * [[exactSubstrSpans]]: delete EVERY token position covered by a
   * cross-document duplicated span of length ≥ `minLen`, in every
   * document (Lee et al. 2022's released ExactSubstr tool removes all
   * duplicated ranges; contrast [[spanDedupScrub]], which keeps one
   * corpus-wide occurrence per window hash — that is the
   * "keep-a-canonical-copy" policy, this is the "boilerplate never
   * survives anywhere" policy; both are real pipeline stages).
   *
   * Deterministic end to end: islands are a pure function of the
   * corpus, the cleaned text is the surviving tokens joined by single
   * spaces (feeds tokenizers, not renderers — q78's convention), and
   * before/after token accounting ships alongside.
   *
   * Scale contract: coordinates shuffle, text does not — the island
   * table collapses to one (starts-ends array, n_spans) row per
   * AFFECTED doc, joined back to the token scan as a broadcast sliver;
   * excision is a per-row filter over the doc's own tokens (≤ |tokens|
   * · |spans| compares against arrays bounded by document length).
   *
   * @return (`idCol`, n_tokens, n_spans, n_removed, clean_text) — one
   *         row per input doc, zeros/identity for untouched docs
   */
  def exactSubstrScrub(docs: DataFrame, minLen: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2, selfRepeats: Boolean = false): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    exciseIslands(
      docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("ts")),
      exactSubstrIslands(docs, minLen, minDocs, selfRepeats,
        idCol, textCol), idCol)
  }

  /**
   * Span-level benchmark DECONTAMINATION scrub — the APPLY step next to
   * the detection trio (q35 gram counts, q42 bloom prune-then-verify,
   * q63 containment pairs): excise every token span of length ≥ `n`
   * that a corpus document shares verbatim with ANY benchmark document,
   * keeping the rest of the document. Dropping a whole doc over one
   * embedded eval question wastes data; excising the leaked span is the
   * pipeline stage that keeps it — the targeted complement of
   * doc-level decontamination filters.
   *
   * Same coverage semantics as [[exactSubstrScrub]] (a position is
   * removed iff some n-window containing it appears in the benchmark —
   * i.e. iff it lies inside a shared span of length ≥ n; maximal
   * islands merge overlapping matches against different benchmark
   * docs), but matched against the BENCHMARK's window set instead of
   * cross-document repetition, and with no keeper question at all —
   * benchmark text never survives in the corpus.
   *
   * Scale contract: the benchmark side is an eval set — tiny next to a
   * training corpus — so BOTH its Rabin–Karp fingerprint set (the
   * prefilter) and its md5-64 window identities BROADCAST; the corpus
   * gram stream prunes map-side against the fingerprints, only the
   * surviving sliver pays md5 (the q64-cliff discipline), and corpus
   * text never shuffles. Islands + excision are [[exactSubstrScrub]]'s
   * coordinate machinery. Within-corpus repetition that is NOT in the
   * benchmark survives untouched (that is exactSubstrScrub's job).
   *
   * @return (`idCol`, n_tokens, n_spans, n_removed, clean_text) — one
   *         row per CORPUS doc (benchmark docs are not output)
   */
  def decontaminationScrub(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n > 0, s"span width must be positive, got $n")
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    // Benchmark windows: rolling fingerprint AND md5 identity per
    // window, both distinct + broadcast (eval sets are small — the
    // corpus never pays md5 until a fingerprint collides).
    val benchW = benchmark
      .select(TextAnalysis.tokens(col(textCol)).as("ts"))
      .select(col("ts"),
        posexplode(GraftSqlBridge.column(graft.text.RollingSpanHashes(
          GraftSqlBridge.expression(col("ts")), n))).as(Seq("pos0", "rh")))
    val benchRh = benchW.select(col("rh")).distinct()
    val benchGh = benchW
      .select(graft.operators.Sampling.md5Hash64(
        concat_ws(" ", slice(col("ts"), col("pos0") + 1, lit(n)))).as("gh"))
      .distinct()
    val rolled = base.select(col("id"),
        posexplode(GraftSqlBridge.column(graft.text.RollingSpanHashes(
          GraftSqlBridge.expression(col("ts")), n))).as(Seq("pos0", "rh")))
      .select(col("id"), (col("pos0") + 1).as("start"), col("rh"))
    // Candidate sliver: fingerprint match (lossless — equal strings
    // fingerprint equal), then the md5 confirm on re-attached tokens
    // (bound to a column FIRST — the q64 cliff).
    val occ = rolled.join(broadcast(benchRh), "rh")
      .select(col("id"), col("start"))
      .join(base, "id")
      .select(col("id"), col("start"),
        graft.operators.Sampling.md5Hash64(
          concat_ws(" ", slice(col("ts"), col("start"), lit(n)))).as("gh"))
      .join(broadcast(benchGh), "gh")
      .select(col("id"), col("start"))
    exciseIslands(base, coverageIslands(occ, n), idCol)
  }

  /**
   * Incremental-ingest substring scrub — the SPAN-level member of the
   * incremental family ([[incrementalNewDocs]] exact doc fingerprints,
   * [[incrementalJaccardNearDup]] MinHash-LSH,
   * [[incrementalSimhashNearDup]] Hamming): excise from each NEW BATCH
   * document every token span of length ≥ `n` already present verbatim
   * in the accumulated corpus. Doc-level incremental dedup drops whole
   * near-copies; this catches the daily-crawl page that is new OVERALL
   * but stitched from corpus boilerplate — its duplicated spans are
   * deleted and the genuinely novel remainder survives.
   *
   * Coverage semantics are [[decontaminationScrub]]'s with roles
   * reversed at scale: there the reference set (an eval benchmark) is
   * tiny and broadcasts whole; here the reference is the CORPUS —
   * arbitrarily large — and the BATCH is the small side. So the batch's
   * distinct Rabin–Karp fingerprints broadcast, the corpus window
   * stream prunes against them MAP-SIDE in its one pass (no corpus
   * coordinate ever shuffles on a non-colliding window), and only the
   * colliding sliver on each side pays the md5-64 identity (the
   * q64-cliff discipline). The corpus-side md5 sliver — bounded by the
   * batch's window count times collision multiplicity, not by corpus
   * size — then broadcasts back to confirm batch coverage. Islands +
   * excision are the shared coordinate machinery.
   *
   * Within-batch repetition is NOT scrubbed (a span two batch docs
   * share but the corpus lacks survives — run [[exactSubstrScrub]] on
   * the batch for that policy); matching is strictly batch-vs-corpus.
   *
   * @return (`idCol`, n_tokens, n_spans, n_removed, clean_text) — one
   *         row per BATCH doc
   */
  def incrementalSubstrScrub(batch: DataFrame, corpus: DataFrame,
      n: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n > 0, s"span width must be positive, got $n")
    val batchBase = batch.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    // Batch windows pay md5 directly — the batch IS the small side.
    val batchW = batchBase
      .select(col("id"), col("ts"),
        posexplode(GraftSqlBridge.column(graft.text.RollingSpanHashes(
          GraftSqlBridge.expression(col("ts")), n))).as(Seq("pos0", "rh")))
      .select(col("id"), (col("pos0") + 1).as("start"), col("rh"),
        graft.operators.Sampling.md5Hash64(
          concat_ws(" ", slice(col("ts"), col("pos0") + 1, lit(n)))).as("gh"))
    val batchRh = batchW.select(col("rh")).distinct()
    // ONE corpus pass: fingerprint windows, prune map-side against the
    // broadcast batch fingerprints, md5 only the colliding sliver
    // (token arrays re-attached by id — sliver-sized join, text never
    // shuffles corpus-wide).
    val corpusBase = corpus.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    val corpusHit = corpusBase
      .select(col("id"),
        posexplode(GraftSqlBridge.column(graft.text.RollingSpanHashes(
          GraftSqlBridge.expression(col("ts")), n))).as(Seq("pos0", "rh")))
      .select(col("id"), (col("pos0") + 1).as("start"), col("rh"))
      .join(broadcast(batchRh), "rh")
      .select(col("id"), col("start"))
      .join(corpusBase, "id")
      .select(graft.operators.Sampling.md5Hash64(
        concat_ws(" ", slice(col("ts"), col("start"), lit(n)))).as("gh"))
      .distinct()
    val occ = batchW
      .join(broadcast(corpusHit), "gh")
      .select(col("id"), col("start"))
    exciseIslands(batchBase, coverageIslands(occ, n), idCol)
  }

  // -------------------------------------------------------- decontamination

  /** Distinct word n-gram shingle array of a token array ([[WordShingles]]). */
  def wordShingles(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(tokens), n))

  /**
   * Benchmark decontamination: for every document sharing at least one
   * word n-gram with the benchmark set, the number of distinct shared
   * n-grams. The standard pre-training hygiene step — eval questions that
   * leak into the corpus surface as long-n-gram collisions.
   *
   * Scale contract: the benchmark's distinct grams are hashed to 8-byte
   * keys (auditable md5_hash64, so the overlap is recomputable off-Spark)
   * and BROADCAST — eval sets are tiny next to a training corpus, so the
   * corpus-side gram stream joins map-side, no shuffle of corpus grams.
   * Only (id, gram-hash) pairs exist after the projection; text never
   * leaves its scan. Output: (`idCol`, n_contaminated), docs with zero
   * overlap omitted.
   */
  def ngramContamination(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(wordShingles(TextAnalysis.tokens(col(textCol)), n)).as("g"): _*)
        .withColumn("gh", graft.operators.Sampling.md5Hash64(col("g")))
        .drop("g")
    val bench = grams(benchmark).select(col("gh")).distinct()
    grams(docs, col(idCol).as("id"))
      .join(broadcast(bench), "gh")
      .groupBy(col("id").as(idCol))
      // plain count: WordShingles dedups grams per doc and bench is
      // distinct, so join rows are already unique per (id, gh) — a
      // count_distinct would drag dedup state through the shuffle for
      // nothing.
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /**
   * Near-containment pairs — the per-pair, ASYMMETRIC complement of
   * [[ngramContamination]]: for each (corpus doc, benchmark doc) pair,
   * how much of the BENCHMARK doc's distinct word n-gram set appears in
   * the corpus doc. `thresholdDen·|A∩B| >= thresholdNum·|B|` keeps a pair
   * (B the benchmark side), so containment 1.0 = the eval item is quoted
   * wholesale. This answers "WHICH eval doc leaked WHERE", where
   * ngramContamination only counts leaked grams per corpus doc.
   *
   * Scale contract is q35's: the benchmark's (bench_id, gram-hash) rows
   * broadcast; the corpus gram stream joins map-side and only matching
   * grams reach the per-pair aggregation. Gram identity is the auditable
   * md5-64 hash. Output is integer counts only.
   *
   * @return (doc_id, bench_id, inter, bench_grams)
   */
  def containmentPairs(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(0 < thresholdNum && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0,1], got $thresholdNum/$thresholdDen")
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(wordShingles(TextAnalysis.tokens(col(textCol)), n)).as("g"))
        .withColumn("gh", graft.operators.Sampling.md5Hash64(col("g")))
        .drop("g")
    // WordShingles emits each doc's grams deduped, so counts are set sizes.
    val bench = grams(benchmark, "bench_id")
    val benchSizes = bench.groupBy("bench_id").agg(count(lit(1)).as("bench_grams"))
    grams(docs, "id")
      .join(broadcast(bench), "gh")
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(benchSizes), "bench_id")
      .filter(col("inter") * thresholdDen >= col("bench_grams") * thresholdNum)
      .select(col("id").as(idCol), col("bench_id"), col("inter"), col("bench_grams"))
  }

  /**
   * [[ngramContamination]] with a bloom-filter pre-prune — same exact
   * output, different memory shape for BIG eval sets. The broadcast
   * variant ships every distinct bench gram hash (8+ bytes each: ~1 GB of
   * executor memory at 10^8 grams); here executors get a bloom filter at
   * ~9.6-bits-per-item scale (~120 MB for the same set at 1% fpp), the
   * corpus gram stream is pruned MAP-SIDE at the scan, and only the tiny
   * surviving candidate stream reaches the exact verification join — which
   * removes the filter's false positives, so the result matches
   * [[ngramContamination]] row-for-row (q42 oracles against the same SQL
   * as q35).
   *
   * The filter is built by one Spark aggregate and collected to the driver
   * — the same move as collecting IVF centroids: a sketch is MEANT to be
   * the small artifact that travels. It then rides the probe expression as
   * a literal (evaluated bytes are reference-identical per task, so the
   * probe heapifies once per task, not per row). The verification join is
   * deliberately NOT hinted broadcast: survivors are few, so the planner's
   * choice (broadcast at small sizes, shuffle at huge ones) is right
   * either way.
   */
  def ngramContaminationBloom(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      expectedGrams: Long = 1L << 20, fppPpm: Long = graft.bloom.BloomDefaults.FppPpm,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.bloom.functions._
    def gramsOf(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(wordShingles(TextAnalysis.tokens(col(textCol)), n)).as("g"): _*)
    val benchGrams = gramsOf(benchmark)
    val filterBytes = benchGrams
      .agg(bloom_init_agg(col("g"), expectedGrams, fppPpm))
      .head().getAs[Array[Byte]](0)
    if (filterBytes == null) {
      // No benchmark grams -> nothing can be contaminated.
      return docs.select(col(idCol), lit(0L).as("n_contaminated")).limit(0)
    }
    val bf = GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        filterBytes, org.apache.spark.sql.types.BinaryType))
    val benchHashes = benchGrams
      .select(graft.operators.Sampling.md5Hash64(col("g")).as("gh")).distinct()
    gramsOf(docs, col(idCol).as("id"))
      .filter(bloom_might_contain(bf, col("g")))
      .select(col("id"), graft.operators.Sampling.md5Hash64(col("g")).as("gh"))
      .join(benchHashes, "gh")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  // ------------------------------------------------------------- canonical

  /** Collapse near-dup pairs into canonical assignments: every id that
   * appears as the greater member of a qualifying pair maps to the smallest
   * id it pairs with (single-link one-hop; [[connectedComponents]] gives the
   * full transitive closure when chains matter). */
  def canonicalAssignment(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("canonical_id"))

  /** Cross-source duplication matrix: fold near-dup pairs into per
   * source-pair counts — the "where is my duplication coming from" number
   * an operator reads before choosing per-source dedup policy (a source
   * that mostly duplicates ITSELF wants intra-source dedup; two sources
   * duplicating EACH OTHER want a precedence rule). `sources` must carry
   * (`idCol`, source). The source pair is unordered (least/greatest), so
   * (srcA, srcB) and (srcB, srcA) pairs land on one row; same-source
   * duplication appears on the diagonal.
   *
   * Scale: the pair list is the sliver (the whole point of the banding
   * upstream); the (id, source) projection column-prunes its scan, and the
   * two joins hash on id — at corpus scale the pair side is the broadcast
   * candidate, and the output is bounded by |sources|². */
  def crossSourceDupMatrix(pairs: DataFrame, sources: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val src = sources.select(col(idCol).as("id"), col("source"))
    pairs
      .join(src.select(col("id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("id").as("id_b"), col("source").as("src_b")), "id_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Full transitive dedup clustering: connected components over the
   * near-dup pair graph by iterative min-label propagation. Returns
   * (id, component_id) for every id appearing in `pairs`, where
   * component_id is the smallest id reachable through any chain of pairs
   * (A~B, B~C ⇒ A,B,C share one component even if A~C was never emitted).
   *
   * Scale contract: each iteration is one equi-join of the current label
   * table against the (undirected) edge list plus a min-aggregation, then
   * one POINTER-JUMPING join (label′ = label(label)) — all hash-partitioned
   * by id, no broadcast of anything proportional to the graph. The jump is
   * the classic Shiloach–Vishkin doubling step: a label is itself a node
   * id, so looking up the label OF the label halves the remaining distance
   * to the component minimum every round. Rounds needed are therefore
   * O(log diameter), not O(diameter): near-dup graphs are unions of small
   * cliques and short chains (2-3 rounds in practice), but even an
   * adversarial 10,000-hop path converges in ~15 rounds — the default
   * `maxIter = 20` covers any diameter a real corpus can produce
   * (DedupSpec proves a 120-hop path converges in ≤ 10 rounds, far under
   * the hop-propagation bound). Convergence is detected by the observed
   * label-sum fixpoint riding each round's materialization job; each round
   * checkpoints its label table and unpersists the previous one so the
   * lineage does not grow unboundedly. The operator is therefore EAGER
   * (iteration needs each round's sum) and returns the last round's
   * checkpointed label table. If `maxIter` rounds pass without a
   * fixpoint the labels are a valid PARTIAL merge (every label is some
   * reachable id, components may remain split) — callers needing a hard
   * guarantee should raise `maxIter`; the log-depth jump makes 30 rounds
   * enough for any graph that fits in any cluster (2^30 diameter).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Convergence check: labels only ever decrease (least of old label and
    // neighbor min), so the total label sum strictly decreases iff any node
    // changed. The sum rides the SAME job that materializes each round's
    // label table: an `observe` aggregate collected during the eager
    // localCheckpoint — one job per iteration total, no separate
    // convergence scan. decimal(38,0) so the sum cannot overflow however
    // large the ids are; an empty graph observes null → zero. The same
    // observation counts the rows, and the checkpoint carries that count
    // as its size estimate, so a small label table broadcasts into the
    // next round's joins and into the caller's plan.
    def observedSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val ckpt = df
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("label_sum"),
          count(lit(1)).as("rows"))
        .localCheckpoint(true)
      val m = obs.get
      (GraftSqlBridge.withRowCount(ckpt, m("rows").asInstanceOf[Long]),
        m("label_sum") match {
          case null => java.math.BigDecimal.ZERO
          case d: java.math.BigDecimal => d
          case d: BigDecimal => d.bigDecimal
        })
    }

    // localCheckpoint (not cache) on everything the loop rebuilds from:
    // each iteration references `labels` twice, so without lineage
    // truncation the logical plan DOUBLES per iteration — a 15-hop chain
    // builds a 2^15-node plan and analysis itself runs out of memory.
    val edges = undirectedEdges(pairs).localCheckpoint(true)
    val (labels0, sum0) = observedSum(
      edges.groupBy(col("u").as("id"))
        .agg(least(min(col("v")), col("u")).as("label")))
    var labels = labels0
    var prevSum = sum0
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // Candidate label for each node: min over its own label and its
      // neighbours' labels.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"))
        .agg(min(col("label")).as("nlabel"))
      val hop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // Pointer jumping: a label is a node id, so label(label) is a valid
      // (and never larger) label in the same component — compressing two
      // hops into one round turns diameter-many rounds into log-many.
      // `hop` is referenced twice but `labels` was checkpointed last
      // round, so the doubled subtree is one round deep, not compounding.
      val (next, nextSum) = observedSum(
        hop.join(
            hop.select(col("id").as("lid"), col("label").as("llabel")),
            col("label") === col("lid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("llabel"), col("label"))).as("label")))
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    labels.select(col("id"), col("label").as("component_id"))
  }

  /** Both directions of every pair as (u, v) rows, from ONE reference to
   * `pairs`: a lazy pair plan then runs once inside the edge checkpoint,
   * whether or not Spark could reuse exchanges across two scans of it. */
  private[dedup] def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /**
   * Quality-aware representative selection: for each near-dup component,
   * keep the member with the HIGHEST score (ties → smallest id) — the
   * keep-best policy production curation pipelines use in place of
   * keep-min-id (CCNet/RefinedWeb-style: dedup should discard the worse
   * copies, not whichever happened to have a larger id).
   *
   * `components` is (id, component_id) as produced by
   * [[connectedComponents]]; `scores` is (id, score) from any scorer —
   * [[graft.text.TextAnalysis.linearQualityScore]] in the q93 harness.
   * Only ids present in `components` (i.e. docs that near-dup-paired with
   * something) are considered; singleton docs are trivially their own
   * representative and never reach this operator.
   *
   * One equi-join plus ONE aggregation keyed by component: the argmax
   * rides a single struct `max((score, -id))` — partial-aggregable
   * map-side like any max, so no window sort and nothing beyond the
   * component-keyed exchange shuffles at corpus scale. Ids must be
   * non-negative (true of every id column in this library) for the
   * negation trick to order ties correctly.
   *
   * @return (component_id, kept_id, kept_score, n_members), one row per
   *         component.
   */
  def keepBest(components: DataFrame, scores: DataFrame,
      idCol: String = "id", scoreCol: String = "score"): DataFrame =
    components
      .join(scores, Seq(idCol))
      .groupBy(col("component_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid"))).as("m"))
      .select(col("component_id"), (-col("m.negid")).as("kept_id"),
        col("m.s").as("kept_score"), col("n_members"))

  /**
   * SOFT dedup: instead of dropping duplicate-cluster members, assign every
   * document a training weight of 1/|cluster| — each piece of distinct
   * content contributes ONE unit of total weight regardless of how many
   * near-copies the crawl collected. This is the downweight-don't-drop
   * policy training pipelines use when duplicates still carry signal
   * (different boilerplate around the same body, soft-dedup ablations);
   * the hard-dedup policies ([[canonicalAssignment]] keep-min,
   * [[keepBest]] keep-best) remain the drop alternatives.
   *
   * `docs` contributes the id universe (`idCol`): docs in no near-dup pair
   * are singleton clusters with full weight. Weight is e6 fixed-point
   * integer (`1000000 div n_members`) so the value is bit-identical across
   * engines — consumers needing exact unit-sum per cluster should use
   * `1/n_members` rationally; e6 truncation is the documented wire format.
   *
   * Plan: components(pairs) + one left equi-join on id (coordinates only)
   * + one count keyed by cluster + one coordinate join back. The text
   * never shuffles, and the cluster-size table is |clusters| rows —
   * nothing here scales with content size.
   *
   * @return (doc_id, cluster_id, n_members, weight_e6), one row per doc.
   */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val clusters = clusterAssignments(docs, pairs, idCol, maxIter)
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    clusters.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        // `div`, not `/`: all-integer across engines, no double rounding.
        expr("1000000L div n_members").as("weight_e6"))
  }

  /** Every doc's near-dup cluster id over the FULL universe: its connected
   * component when it pairs with anything, itself otherwise. One left
   * coordinate join — shared by [[softDedupWeights]] and
   * [[clusterSafeSplit]] so "cluster" means one thing. */
  def clusterAssignments(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame =
    docs.select(col(idCol).as("doc_id"))
      .join(connectedComponents(pairs, maxIter),
        col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("cluster_id"))

  /**
   * Leakage-free train/test split: membership is decided by the md5
   * threshold rule on the CLUSTER id, not the doc id — so near-duplicate
   * documents can never straddle the split boundary (a test doc whose
   * near-copy sits in train is the classic silent-eval-leak; doc-keyed
   * splits like q30's produce it whenever dedup is imperfect, cluster-keyed
   * splits cannot). Same deterministic md5 rule as
   * [[graft.operators.Sampling.deterministicSample]]: stable across runs
   * and engines, auditable off-Spark, and nested (a 3/5 train set contains
   * the 2/5 one).
   *
   * @return (doc_id, cluster_id, split) with split ∈ {"train", "test"}
   */
  def clusterSafeSplit(docs: DataFrame, pairs: DataFrame,
      trainNum: Long, trainDen: Long,
      idCol: String = "doc_id", maxIter: Int = 20): DataFrame =
    clusterAssignments(docs, pairs, idCol, maxIter)
      .select(col("doc_id"), col("cluster_id"),
        when(graft.operators.Sampling.sampleMembership(
          col("cluster_id"), trainNum, trainDen), "train")
          .otherwise("test").as("split"))
}
