package graft.dedup

import graft.dedup.Dedup._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def shingleSet(text: String, n: Int): Set[String] = {
    val t = text.toLowerCase
    if (t.length < n) Set(t)
    else (0 to t.length - n).map(i => t.substring(i, i + n)).toSet
  }

  // ------------------------------------------------------------ CharShingles

  test("shingles: distinct n-grams, lowercased, in first-occurrence order semantics") {
    val out = docs(1L -> "abcabc")
      .select(shingles(col("text"), 3).as("sh"))
      .head().getSeq[String](0)
    assert(out.toSet === Set("abc", "bca", "cab"))
    assert(out.toSet === shingleSet("abcabc", 3))
  }

  test("shingles: text shorter than width yields the whole text") {
    val out = docs(1L -> "Ab").select(shingles(col("text"), 5)).head().getSeq[String](0)
    assert(out === Seq("ab"))
  }

  test("shingles: multi-byte characters slice on char boundaries") {
    val out = docs(1L -> "héllo wörld")
      .select(shingles(col("text"), 4).as("sh"))
      .head().getSeq[String](0)
    assert(out.toSet === shingleSet("héllo wörld", 4))
    assert(out.contains("héll"))
  }

  test("shingles: empty string yields one empty shingle") {
    val out = docs(1L -> "").select(shingles(col("text"), 5)).head().getSeq[String](0)
    assert(out === Seq(""))
  }

  // -------------------------------------------------------- MinHashSignature

  test("minhash: deterministic, length k, identical sets agree") {
    val df = docs(1L -> "the quick brown fox", 2L -> "the quick brown fox")
      .select(col("doc_id"), minhashSignature(shingles(col("text"), 5), 64).as("sig"))
    val sigs = df.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(sigs(0).length === 64)
    assert(sigs(0) === sigs(1))
  }

  test("minhash: signature agreement rate tracks Jaccard similarity") {
    // Two near-identical texts (high J) vs two unrelated texts (low J).
    val near = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again!")
    val far = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "completely different content with no overlap whatsoever here")
    def agreement(df: DataFrame): Double = {
      val sigs = df.select(minhashSignature(shingles(col("text"), 5), 128))
        .collect().map(_.getSeq[Long](0))
      sigs(0).zip(sigs(1)).count { case (a, b) => a == b } / 128.0
    }
    assert(agreement(near) > 0.8)
    assert(agreement(far) < 0.2)
  }

  // ------------------------------------------------------- jaccard near-dups

  test("jaccardNearDupPairs finds planted near-duplicates and verifies exactly") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(
      1L -> base,
      2L -> (base + "EXTRA TAIL."), // near-dup of 1
      3L -> ("totally unrelated document about spark catalyst optimizer rules " * 3),
      4L -> base) // exact dup of 1
    val pairs = jaccardNearDupPairs(corpus, thresholdNum = 3, thresholdDen = 4,
      rows = 4, shingleWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // Exact-dup pair: intersection == union.
    val exact = pairs.find(p => (p._1, p._2) == (1L, 4L)).get
    assert(exact._3 === exact._4)
    // Verified Jaccard on every returned pair actually clears the threshold.
    pairs.foreach(p => assert(4 * p._3 >= 3 * p._4))
  }

  test("incrementalJaccardNearDup pairs batch docs against the corpus only") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(
      1L -> base,
      2L -> ("totally unrelated document about spark catalyst optimizer rules " * 3),
      3L -> (base + "OLD TAIL.")) // near-dup of 1, but corpus-internal
    val batch = docs(
      10L -> (base + "EXTRA TAIL."), // near-dup of corpus 1 and 3
      11L -> ("fresh content never seen before in any ingested document " * 3),
      12L -> (base + "EXTRA TAIL.")) // exact dup of batch 10: must NOT pair
    val pairs = incrementalJaccardNearDup(batch, corpus,
      thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    // Batch-internal (10,12) and corpus-internal (1,3) pairs are out of
    // scope by construction — only batch×corpus edges appear.
    assert(ids === Set((10L, 1L), (10L, 3L), (12L, 1L), (12L, 3L)))
    pairs.foreach(p => assert(4 * p._3 >= 3 * p._4))
  }

  test("incrementalJaccardNearDup skips corpus buckets over the cap") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(1L -> base)
    val batch = docs(10L -> (base + "EXTRA TAIL."))
    // cap=0 drops every corpus bucket -> no candidates survive.
    val none = incrementalJaccardNearDup(batch, corpus,
      thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10,
      maxBucketSize = 0)
    assert(none.count() === 0L)
  }

  test("incrementalSimhashNearDup pairs batch docs against the corpus, Hamming-complete") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(
      1L -> base,
      2L -> ("totally unrelated document about spark catalyst optimizer rules " * 3))
    val batch = docs(
      10L -> (base + " tail"), // token-level near-identical to 1
      11L -> ("fresh content never seen before in any ingested document " * 3))
    val got = incrementalSimhashNearDup(batch, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Exhaustive cross-check: EVERY batch×corpus pair at Hamming <= 3 must
    // appear (SQS(8) completeness), none above.
    val sims = (corpus.union(batch)).select(col("doc_id"),
      simhash64(graft.text.TextAnalysis.tokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = for {
      b <- Seq(10L, 11L); c <- Seq(1L, 2L)
      h = java.lang.Long.bitCount(sims(b) ^ sims(c))
      if h <= 3
    } yield (b, c, h)
    assert(got.toSet === want.toSet)
    assert(got.exists(p => p._1 == 10L && p._2 == 1L), "planted near-dup missed")
  }

  test("exactDupGroups groups identical normalized content") {
    val corpus = docs(
      10L -> "Hello   World", 11L -> "hello world", 12L -> "different")
    val groups = exactDupGroups(corpus).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups === Set((10L, 2L), (12L, 1L)))
  }

  test("connectedComponents closes chains transitively, one-hop canonical does not") {
    import spark.implicits._
    // Chain 1-3, 3-7 (1~7 never emitted) plus a separate pair 2-5 and a
    // triangle 10-11, 10-12, 11-12.
    val pairs = Seq((1L, 3L), (3L, 7L), (2L, 5L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("id_a", "id_b")
    val comp = connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp === Map(
      1L -> 1L, 3L -> 1L, 7L -> 1L, // chain collapses through the hop
      2L -> 2L, 5L -> 2L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // One-hop canonical assignment leaves 7 pointing at 3, not 1.
    val canon = canonicalAssignment(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon(7L) === 3L)
  }

  test("connectedComponents handles a long chain within maxIter") {
    import spark.implicits._
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = connectedComponents(chain).collect().map(_.getLong(1)).distinct
    assert(comp === Array(0L))
  }

  test("connectedComponents converges at adversarial diameter via pointer jumping") {
    import spark.implicits._
    // A 120-hop path is far beyond anything a near-dup graph produces and
    // 12x the round budget below: hop-only min propagation would need 120
    // rounds, so converging within maxIter = 10 proves the doubling step
    // actually compresses distance (2^10 >> 120), not just the scaladoc.
    // Descending ids make the minimum sit at the FAR end of the path —
    // the worst case for label propagation.
    val path = (0L until 120L).map(i => (120L - i, 119L - i)).toDF("id_a", "id_b")
    val comp = connectedComponents(path, maxIter = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length === 121)
    assert(comp.map(_._2).distinct === Array(0L), "path did not collapse to one component")
    // Two adversarial paths plus a clique, same budget: components stay
    // separate and each collapses to its own minimum.
    val multi = ((0L until 60L).map(i => (i, i + 1)) ++
      (1000L until 1050L).map(i => (i, i + 1)) ++
      Seq((2000L, 2001L), (2000L, 2002L), (2001L, 2002L))).toDF("id_a", "id_b")
    val byComp = connectedComponents(multi, maxIter = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    assert(byComp.keySet === Set(0L, 1000L, 2000L))
    assert(byComp(0L).length === 61 && byComp(1000L).length === 51 && byComp(2000L).length === 3)
  }

  test("connectedComponents of an empty pair graph is empty, not an error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(connectedComponents(empty).collect().isEmpty)
  }

  test("connectedComponents' edge list references the pair plan once") {
    // A lazy pair plan feeds the edge checkpoint; two scans of it (a union
    // of both directions) would run the banding pipeline twice unless
    // Spark happened to reuse its exchanges.
    val pairs = jaccardNearDupPairs(
      docs(1L -> "the quick brown fox jumps", 2L -> "the quick brown fox jumped"),
      1, 2, k = 16, rows = 2, shingleWidth = 3)
    def cappedCollectors(df: DataFrame): Int =
      df.queryExecution.analyzed.map(_.expressions.map(_.collect {
        case c: CollectListCapped => c }.size).sum).sum
    val inPairs = cappedCollectors(pairs)
    assert(inPairs >= 1, "pair plan has no banding aggregate")
    assert(cappedCollectors(undirectedEdges(pairs)) === inPairs)
    assert(undirectedEdges(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((1L, 2L), (2L, 1L)))
  }

  test("keepBest keeps the highest-scoring member per component, ties to smallest id") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component_id")
    // component 1: member 2 has the top score; component 10: tie between
    // 10 and 11 → the smaller id must win.
    val scores = Seq((1L, 5L), (2L, 9L), (3L, -2L), (10L, 7L), (11L, 7L))
      .toDF("id", "score")
    val got = Dedup.keepBest(comps, scores).orderBy("component_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 2L, 9L, 3L), (10L, 10L, 7L, 2L)))
  }

  test("softDedupWeights gives 1e6/|cluster| across transitive clusters, singletons full weight") {
    import spark.implicits._
    // Chain 1~2, 2~3 → one cluster of 3 (transitive); 10~11 a pair; 20 a
    // singleton with no edges at all.
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.softDedupWeights(docs, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (10L, 10L, 2L, 500000L), (11L, 10L, 2L, 500000L),
      (20L, 20L, 1L, 1000000L)))
  }

  test("clusterSafeSplit never separates paired docs and covers every doc") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    // Chains and pairs scattered across the id space + many singletons.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 25L), (25L, 33L))
      .toDF("id_a", "id_b")
    val split = Dedup.clusterSafeSplit(docs, pairs, trainNum = 1, trainDen = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(split.size === 40)
    assert(split.values.map(_._2).toSet.subsetOf(Set("train", "test")))
    // The leakage guarantee: both ends of every pair share a split.
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 25L), (25L, 33L)).foreach {
      case (a, b) =>
        assert(split(a)._2 === split(b)._2, s"pair ($a,$b) straddles the split")
        assert(split(a)._1 === split(b)._1)
    }
    // Both splits are non-empty at 1/2 on 35 clusters (md5-uniform).
    assert(split.values.map(_._2).toSet === Set("train", "test"))
  }

  test("canonicalAssignment maps each greater member to its smallest partner") {
    import spark.implicits._
    val pairs = Seq((1L, 3L), (2L, 3L), (1L, 5L)).toDF("id_a", "id_b")
    val canon = canonicalAssignment(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon === Map(3L -> 1L, 5L -> 1L))
  }

  // ----------------------------------------------------------------- simhash

  test("simhash banding is complete: pairs equal brute-force at Hamming <= 3") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val corpus = docs(
      1L -> base,
      2L -> (base + "lambda"),
      3L -> (base + "lambda mu"),
      4L -> ("unrelated words entirely disjoint vocabulary set " * 5))
    for (auditable <- Seq(false, true)) {
      val banded = simhashNearDupPairs(corpus, maxHamming = 3, auditable = auditable)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sims = corpus
        .select(col("doc_id"), simhash64(graft.text.TextAnalysis.tokens(col("text")), auditable))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = (for {
        a <- sims.keys; b <- sims.keys if a < b
        if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
      } yield (a, b)).toSet
      assert(banded === brute, s"auditable=$auditable")
    }
  }

  test("SQS(8) banding blocks exhaustively cover every <= 3-chunk damage pattern") {
    val blocks = Dedup.Sqs8Blocks
    assert(blocks.size === 14)
    assert(blocks.forall(_.size === 4))
    assert(blocks.map(_.toSet).distinct.size === 14)
    // The completeness certificate the banding relies on: for EVERY set of
    // at most 3 damaged chunks, at least one block avoids all of them. The
    // 70 -> 14 band reduction is only sound because this holds exhaustively.
    for (r <- 0 to 3; damaged <- (0 until 8).combinations(r)) {
      assert(blocks.exists(b => b.forall(c => !damaged.contains(c))),
        s"no intact block for damaged chunks ${damaged.mkString(",")}")
    }
    // Sharpness: some 4-chunk damage pattern (beyond the contract) breaks
    // every block — the Hamming <= 3 bound is not slack.
    assert((0 until 8).combinations(4).exists(d =>
      blocks.forall(b => b.exists(d.contains))))
  }

  // --------------------------------------------------------- decontamination

  test("wordShingles: distinct space-joined n-grams; short inputs yield none") {
    import spark.implicits._
    val toks = Seq(Seq("a", "b", "c", "b", "c")).toDF("ts")
    val grams = toks.select(wordShingles(col("ts"), 2)).head().getSeq[String](0)
    assert(grams.toSet === Set("a b", "b c", "c b"))
    val short = Seq(Seq("only")).toDF("ts")
      .select(wordShingles(col("ts"), 2)).head().getSeq[String](0)
    assert(short.isEmpty)
    // A null token breaks the sequence: no gram may bridge non-adjacent
    // tokens (that would fabricate a gram the document never contained).
    val withNull = Seq(Seq(Some("a"), Some("b"), None, Some("c"), Some("d"))).toDF("ts")
      .select(wordShingles(col("ts"), 2)).head().getSeq[String](0)
    assert(withNull.toSet === Set("a b", "c d"))
  }

  test("bloom-pruned decontamination returns exactly the exact-join result") {
    import spark.implicits._
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docs(
      1L -> (phrase + " with extra trailing words here"),
      2L -> "completely different content nothing shared at all between these documents",
      3L -> (phrase + " " + phrase))
    val bench = docs(100L -> phrase)
    val exact = Dedup.ngramContamination(corpus, bench, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Dedup.ngramContaminationBloom(corpus, bench, n = 8, expectedGrams = 256L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloom === exact)
    assert(exact.nonEmpty)
    // Empty benchmark: nothing is contaminated, no NPE from a null filter.
    val none = Dedup.ngramContaminationBloom(corpus, docs(), n = 8)
    assert(none.count() === 0L)
  }

  test("ngramContamination counts distinct shared grams, omits clean docs") {
    val bench = docs(100L -> "the quick brown fox jumps over the lazy dog")
    val corpus = docs(
      1L -> "intro text then the quick brown fox jumps over the lazy dog and more",
      2L -> "completely unrelated content with no benchmark overlap at all here",
      3L -> "the quick brown fox jumps over the lazy dog")
    val hits = ngramContamination(corpus, bench, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // bench has two 8-grams: "the..dog" window 1-8 and 2-9.
    assert(hits === Map(1L -> 2L, 3L -> 2L))
  }

  // ---------------------------------------------------------- hot-bucket cap

  test("jaccardNearDupPairs survives an adversarial hot bucket and counts the drops") {
    // 200 identical template documents: all 32 bands put ALL of them in one
    // bucket each — the degenerate case that used to build an unbounded list
    // and square it. Three near-dup docs of a different text ride along so
    // the healthy part of the corpus still produces pairs.
    val n = 200
    val template = (1L to n.toLong).map(i => i -> ("identical template text repeated " * 8))
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(template ++ Seq(501L -> base, 502L -> base, 503L -> (base + "TAIL.")): _*)
    val capped = jaccardNearDupPairs(corpus, thresholdNum = 3, thresholdDen = 4,
      rows = 4, shingleWidth = 10, maxBucketSize = 50)
    val out = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Hot buckets skipped → template pairs gone; healthy near-dups survive.
    assert(out === Set((501L, 502L), (501L, 503L), (502L, 503L)))
    // The skip is accounted: the stats query quantifies exactly what dropped.
    val stats = lshBucketStats(corpus, maxBucketSize = 50, shingleWidth = 10).head()
    assert(stats.getAs[Long]("buckets_dropped") === 32L) // every band's template bucket
    assert(stats.getAs[Long]("largest_bucket") === n.toLong)
  }

  test("lshBucketStats on an empty corpus reports zeros, not nulls") {
    import spark.implicits._
    val stats = lshBucketStats(Seq.empty[(Long, String)].toDF("doc_id", "text")).head()
    assert(stats.getAs[Long]("n_buckets") === 0L)
    assert(stats.getAs[Long]("buckets_dropped") === 0L)
    assert(stats.getAs[Long]("largest_bucket") === 0L)
  }

  test("bucket cap does not change results when no bucket overflows") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(
      1L -> base, 2L -> (base + "EXTRA TAIL."), 3L -> base,
      4L -> ("some completely different text about query optimizers " * 3))
    def run(cap: Int) = jaccardNearDupPairs(corpus, thresholdNum = 3, thresholdDen = 4,
      rows = 4, shingleWidth = 10, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(run(4096) === run(10))
    assert(run(4096).map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("simhashBucketStats: identity class overflows every band at cap 3, none at cap 8") {
    val rows = Seq(
      1L -> "same text here again", 2L -> "same text here again",
      3L -> "same text here again", 4L -> "same text here again",
      5L -> "totally different content words entirely")
    val tight = simhashBucketStats(docs(rows: _*), maxBucketSize = 3,
      auditable = true).collect().head
    // The 4 identical docs share all 14 SQS band keys — one >cap bucket
    // per band (doc 5 joining a bucket only grows it, never splits it).
    assert(tight.getAs[Long]("buckets_dropped") === 14L)
    assert(tight.getAs[Long]("largest_bucket") >= 4L)
    assert(tight.getAs[Long]("n_buckets") >= 14L && tight.getAs[Long]("n_buckets") <= 28L)
    val loose = simhashBucketStats(docs(rows: _*), maxBucketSize = 8,
      auditable = true).collect().head
    assert(loose.getAs[Long]("buckets_dropped") === 0L)
    val empty = simhashBucketStats(docs(), maxBucketSize = 3).collect().head
    assert((0 until empty.length).forall(i => empty.getLong(i) === 0L))
  }

  test("collect_list_capped keeps true total while bounding retained values") {
    import spark.implicits._
    val df = (1L to 100L).toDF("v")
      .agg(org.apache.spark.sql.graft.GraftSqlBridge.column(
        CollectListCapped(org.apache.spark.sql.graft.GraftSqlBridge.expression(col("v")), 7)
          .toAggregateExpression()).as("cl"))
      .select(col("cl.total"), size(col("cl.ids")))
    val r = df.head()
    assert(r.getLong(0) === 100L)
    assert(r.getInt(1) === 7)
  }

  test("auditable minhash signature equals the plain-Scala md5 linear-map minima") {
    // Re-derives the k=8 auditable signature from first principles: base =
    // md5 first-8-bytes big-endian, h_i = a_i·base + b_i with wrapping
    // 64-bit arithmetic, minima in SIGNED long order. Any drift in the
    // kernel (or in the published coefficients the q92 oracle embeds)
    // fails here before it fails cross-engine.
    val text = "the quick brown fox jumps"
    val width = 5
    val got = docs(1L -> text)
      .select(minhashSignature(shingles(col("text"), width), 8, auditable = true))
      .head().getSeq[Long](0)
    val shingleStrs = (0 to text.length - width).map(i => text.slice(i, i + width)).distinct
    val (mulA, addB) = MinHashSignature.coefficients(8)
    val expected = (0 until 8).map { i =>
      shingleStrs.map { s =>
        val base = SimHash64.md5Hash64(
          org.apache.spark.unsafe.types.UTF8String.fromString(s))
        mulA(i) * base + addB(i)
      }.min
    }
    assert(got === expected)
    // and the default (xxhash) path is a DIFFERENT hash family, not an
    // accidental alias of the auditable one
    val fast = docs(1L -> text)
      .select(minhashSignature(shingles(col("text"), width), 8))
      .head().getSeq[Long](0)
    assert(fast !== got)
  }

  test("auditable simhash token hash matches md5 first 8 bytes big-endian") {
    val h = SimHash64.md5Hash64(org.apache.spark.unsafe.types.UTF8String.fromString("hello"))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8"))
    val expected = java.nio.ByteBuffer.wrap(md, 0, 8).getLong
    assert(h === expected)
    // Cross-checked against DuckDB: ('0x'||substr(md5('hello'),1,16))::UBIGINT
    assert(h === 6719722671305337462L)
  }

  // --------------------------------------------------------- ngramJaccardPairs

  /** Definitional all-pairs word n-gram Jaccard, computed in plain Scala. */
  private def bruteForceJaccard(rows: Seq[(Long, String)], n: Int,
      num: Int, den: Int): Set[(Long, Long, Int, Int)] = {
    def grams(text: String): Set[String] = {
      val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 to ts.length - n).map(i => ts.slice(i, i + n).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> grams(t) }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size; uni = sa.size + sb.size - inter
      if inter * den >= uni * num
    } yield (ia, ib, inter, uni)).toSet
  }

  private def runNgramJaccard(rows: Seq[(Long, String)], num: Int, den: Int,
      n: Int = 3): Set[(Long, Long, Int, Int)] =
    ngramJaccardPairs(docs(rows: _*), thresholdNum = num, thresholdDen = den, n = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet

  test("ngram jaccard: prefix filter is lossless vs brute-force all-pairs") {
    val base = "the quick brown fox jumps over the lazy dog near the old river bank"
    val rows = Seq(
      1L -> base,
      2L -> (base + " at dawn"),                       // high-J near-dup of 1
      3L -> base.replace("lazy", "sleepy"),            // mid-J variant of 1
      4L -> "completely unrelated text about catalyst query optimizers and shuffles",
      5L -> "catalyst query optimizers and shuffles in completely unrelated text",
      6L -> "short doc",                               // < 3 tokens of grams? 2 tokens -> no grams
      7L -> base)                                      // exact dup of 1
    for ((num, den) <- Seq((1, 2), (3, 4), (1, 4), (9, 10)))
      assert(runNgramJaccard(rows, num, den) === bruteForceJaccard(rows, 3, num, den),
        s"threshold $num/$den")
  }

  test("ngram jaccard: threshold 1 keeps only identical gram sets") {
    val rows = Seq(
      1L -> "a b c d e", 2L -> "a b c d e",
      3L -> "a b c d f")
    val out = runNgramJaccard(rows, 1, 1)
    assert(out === bruteForceJaccard(rows, 3, 1, 1))
    assert(out.map(p => (p._1, p._2)) === Set((1L, 2L)))
  }

  test("ngram jaccard: docs with fewer than n tokens never pair") {
    val rows = Seq(1L -> "one two", 2L -> "one two", 3L -> "")
    assert(runNgramJaccard(rows, 1, 2) === Set.empty)
  }

  test("ngram jaccard: lossless on generated template-heavy corpora (property)") {
    // A deliberately tiny vocabulary maximizes gram sharing — the
    // adversarial case for prefix filtering (every doc collides with many
    // others; any unsound prune would drop a true pair here first).
    import org.scalacheck.Gen
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val doc = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(7L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(40)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((num, den) <- Seq((1, 2), (2, 3), (4, 5)))
      assert(runNgramJaccard(rows, num, den) === bruteForceJaccard(rows, 3, num, den),
        s"threshold $num/$den over generated corpus")
  }

  // --------------------------------------------------------- containment pairs

  test("containment pairs: benchmark-side denominator, threshold keeps quotes only") {
    // bench doc 100 has 10 tokens -> 3 distinct 8-grams.
    val benchText = "a b c d e f g h i j"
    val bench = docs(100L -> benchText)
    val corpus = docs(
      1L -> ("intro words " + benchText + " trailing words"), // full quote: C = 1
      2L -> "a b c d e f g h x y",                            // 1 of 3 grams: C = 1/3
      3L -> "completely different content with no overlap at all")
    val out = containmentPairs(corpus, bench, n = 8, thresholdNum = 1, thresholdDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((1L, 100L, 3L, 3L)))
    // Lowering the threshold to 1/4 admits the partial overlap too.
    val loose = containmentPairs(corpus, bench, n = 8, thresholdNum = 1, thresholdDen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(loose === Set((1L, 100L, 3L, 3L), (2L, 100L, 1L, 3L)))
  }

  test("containment pairs: empty benchmark yields no rows") {
    val out = containmentPairs(docs(1L -> "some corpus doc with words"), docs(), n = 8)
    assert(out.count() === 0)
  }

  test("ngram jaccard: identity collapse equals direct join on dup-heavy corpus") {
    // Worst case for the direct join: a 5-member identity class (every
    // member pairs with every other AND with the near-dup), plus an
    // identity class of gram-less docs (must expand to NOTHING — the
    // direct join can never surface docs with no grams), plus whitespace/
    // case variants that share a fingerprint without byte equality.
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val rows = Seq(
      1L -> base, 2L -> base, 3L -> (" " + base + "  "), 4L -> base.toUpperCase,
      5L -> ("THE  quick brown fox jumps over the lazy dog near the river"),
      6L -> (base + " at dawn"),
      7L -> "tiny", 8L -> "tiny", // fingerprint class with zero grams
      9L -> "unrelated words about catalyst optimizer rules and shuffles")
    for ((num, den) <- Seq((1, 2), (3, 4), (1, 1))) {
      val direct = ngramJaccardPairs(docs(rows: _*), num, den, n = 3,
        collapseIdentical = false).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
      val collapsed = ngramJaccardPairs(docs(rows: _*), num, den, n = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
      assert(collapsed === direct, s"threshold $num/$den")
      assert(collapsed === bruteForceJaccard(rows, 3, num, den), s"oracle $num/$den")
    }
  }

  test("ppjoin candidate stats: counts are internally consistent and n_pairs exact") {
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val rows = Seq(1L -> base, 2L -> (base + " at dawn"), 3L -> base,
      4L -> "alpha beta gamma delta alpha beta", 5L -> "alpha beta gamma delta eps",
      6L -> "", 7L -> "one two")
    val st = ppjoinCandidateStats(docs(rows: _*), 1, 2, n = 3).collect().head
    val get = (c: String) => st.getLong(st.fieldIndex(c))
    assert(get("n_docs") === 7L)
    assert(get("n_docs_with_grams") === 5L)
    // The filter chain can only shrink: collisions >= length-pass rows,
    // distinct candidate pairs <= length-pass collisions, verified pairs
    // <= candidates; and the prefix is a subset of the gram rows.
    assert(get("n_prefix_rows") <= get("n_gram_rows"))
    assert(get("n_length_pass") <= get("n_collisions"))
    assert(get("n_candidates") <= get("n_length_pass"))
    assert(get("n_pairs") <= get("n_candidates"))
    assert(get("largest_group") >= 2L) // the identity pair 1/3 shares prefixes
    assert(get("n_pairs") === bruteForceJaccard(rows, 3, 1, 2).size.toLong)
  }

  test("ppjoin candidate stats: empty corpus yields an all-zero row") {
    val st = ppjoinCandidateStats(docs(), 1, 2, n = 3).collect().head
    (0 until st.length).foreach(i => assert(st.getLong(i) === 0L, st.schema(i).name))
  }

  test("ngram jaccard: unigram sets (n = 1) still equal brute force") {
    val rows = Seq(
      1L -> "alpha beta gamma",
      2L -> "alpha beta delta",
      3L -> "gamma beta alpha",   // same unigram SET as 1 -> J = 1
      4L -> "epsilon zeta")
    assert(runNgramJaccard(rows, 1, 2, n = 1) === bruteForceJaccard(rows, 1, 1, 2))
  }

  // ------------------------------------------------------------- span scrub

  test("spanDedupScrub removes repeats except first occurrence, coverage-merged") {
    val boiler = (1 to 17).map(i => s"b$i").mkString(" ") // 17 tokens -> 2 windows at w=16
    val rows = Seq(
      1L -> (boiler + " unique tail of document one"),
      2L -> ("different head here " + boiler),
      3L -> "totally unrelated content with no shared spans at all")
    val out = spanDedupScrub(docs(rows: _*), w = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // Doc 1 holds the keeper occurrences of both windows: nothing removed.
    assert(out(1L)._2 === 0L)
    assert(out(1L)._3 === (boiler + " unique tail of document one"))
    // Doc 2 loses the whole 17-token boilerplate (two overlapping windows,
    // coverage union), keeping its unique head.
    assert(out(2L) === ((20L, 17L, "different head here")))
    // Doc 3 untouched.
    assert(out(3L)._2 === 0L)
  }

  test("spanDedupScrub ignores within-doc repetition and short docs") {
    val span = (1 to 16).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      1L -> (span + " middle words " + span), // repeated only within doc 1
      2L -> "short doc",
      3L -> "")
    val out = spanDedupScrub(docs(rows: _*), w = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._2 === 0L) // cross-doc rule: within-doc repeats survive
    assert(out(2L) === ((2L, 0L)))
    assert(out(3L) === ((0L, 0L)))
  }

  test("spanDedupScrub equals brute force on generated template-heavy corpora") {
    // Small vocab + short window width force heavy span sharing — every
    // keeper/coverage edge (overlaps, ties broken by (id, start), docs
    // below the width, within-doc repeats) occurs naturally.
    import org.scalacheck.Gen
    val w = 4
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(11L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(30)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    def brute(rows: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      val spans = for {
        (id, t) <- rows; ts = toks(t)
        s <- 1 to math.max(ts.length - w + 1, 0)
      } yield (id, s, ts.slice(s - 1, s - 1 + w).mkString(" "))
      val repeated = spans.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size > 1).keySet
      val removals = spans.filter(p => repeated(p._3))
        .groupBy(_._3).values.flatMap { occ =>
          val keep = occ.minBy(p => (p._1, p._2))
          occ.filterNot(_ == keep)
        }.toSeq.groupBy(_._1)
      rows.map { case (id, t) =>
        val ts = toks(t)
        val rs = removals.getOrElse(id, Seq.empty).map(_._2)
        val kept = ts.zipWithIndex.collect {
          case (tok, i0) if !rs.exists(s => s <= i0 + 1 && i0 + 1 <= s + w - 1) => tok
        }
        id -> ((ts.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" ")))
      }.toMap
    }

    val out = spanDedupScrub(docs(rows: _*), w = w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out === brute(rows))
  }

  // ---------------------------------------------------- ExactSubstr dedup

  test("exactSubstrSpans merges overlapping windows into maximal spans") {
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ") // 5 windows at w=16
    val rows = Seq(
      1L -> (boiler + " unique tail of document one"),
      2L -> ("four extra head words " + boiler),
      3L -> "totally unrelated content with no shared spans at all")
    val out = exactSubstrSpans(docs(rows: _*), minLen = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // One MAXIMAL span per doc — 5 overlapping windows fused, not 5 rows.
    assert(out === Set((1L, 1L, 20L), (2L, 5L, 20L)))
  }

  test("exactSubstrSpans keeps distant duplicated spans as separate islands") {
    val a = (1 to 16).map(i => s"a$i").mkString(" ")
    val b = (1 to 16).map(i => s"c$i").mkString(" ")
    val gap = (1 to 20).map(i => s"g$i").mkString(" ") // > w tokens between
    val rows = Seq(
      1L -> (a + " " + gap + " " + b),
      2L -> (a + " completely different middle here " + b))
    val out = exactSubstrSpans(docs(rows: _*), minLen = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 1L, 16L), (1L, 37L, 16L),
      (2L, 1L, 16L), (2L, 21L, 16L)))
  }

  test("exactSubstrScrub removes EVERY occurrence — no keeper survives") {
    val boiler = (1 to 17).map(i => s"b$i").mkString(" ")
    val rows = Seq(
      1L -> (boiler + " unique tail of document one"),
      2L -> ("different head here " + boiler),
      3L -> "totally unrelated content with no shared spans at all")
    val out = exactSubstrScrub(docs(rows: _*), minLen = 16).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // CONTRAST with spanDedupScrub: doc 1's first occurrence is excised
    // too — the all-occurrence ExactSubstr policy.
    assert(out(1L) === ((22L, 1L, 17L, "unique tail of document one")))
    assert(out(2L) === ((20L, 1L, 17L, "different head here")))
    assert(out(3L)._3 === 0L)
    assert(out(3L)._2 === 0L)
  }

  test("exactSubstrScrub ignores within-doc repetition and short/empty docs") {
    val span = (1 to 16).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      1L -> (span + " middle words " + span), // repeated only within doc 1
      2L -> "short doc",
      3L -> "")
    val out = exactSubstrScrub(docs(rows: _*), minLen = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((34L, 0L, 0L)))
    assert(out(2L) === ((2L, 0L, 0L)))
    assert(out(3L) === ((0L, 0L, 0L)))
  }

  test("exactSubstr spans + scrub equal brute-force coverage on template corpora") {
    // The definitional reference: a position is removed iff some w-window
    // containing it has a gram shared with ANOTHER doc; spans are the
    // maximal contiguous covered runs. Same generator regime as the
    // spanDedupScrub property test (heavy overlap, sub-width docs,
    // within-doc repeats, multi-partner splices all occur naturally).
    import org.scalacheck.Gen
    val w = 4
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(23L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(30)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    val allSpans = for {
      (id, t) <- rows; ts = toks(t)
      s <- 1 to math.max(ts.length - w + 1, 0)
    } yield (id, s, ts.slice(s - 1, s - 1 + w).mkString(" "))
    val repeated = allSpans.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size > 1).keySet
    val covered: Map[Long, Set[Int]] = allSpans
      .filter(p => repeated(p._3))
      .groupBy(_._1)
      .map { case (id, occ) =>
        id -> occ.flatMap(p => p._2 until (p._2 + w)).toSet
      }
    def islands(ps: Set[Int]): Seq[(Int, Int)] = {
      val sorted = ps.toSeq.sorted
      sorted.foldLeft(Vector.empty[(Int, Int)]) {
        case (acc :+ ((s, e)), p) if p == e + 1 => acc :+ ((s, p))
        case (acc, p) => acc :+ ((p, p))
      }
    }
    val bruteSpans = covered.toSeq.flatMap { case (id, ps) =>
      islands(ps).map { case (s, e) => (id, s.toLong, (e - s + 1).toLong) }
    }.toSet
    val bruteScrub = rows.map { case (id, t) =>
      val ts = toks(t)
      val cov = covered.getOrElse(id, Set.empty)
      val kept = ts.zipWithIndex.collect {
        case (tok, i0) if !cov(i0 + 1) => tok
      }
      id -> ((ts.length.toLong, islands(cov).size.toLong,
        cov.size.toLong, kept.mkString(" ")))
    }.toMap

    val spansOut = exactSubstrSpans(docs(rows: _*), minLen = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spansOut === bruteSpans)
    val scrubOut = exactSubstrScrub(docs(rows: _*), minLen = w).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(scrubOut === bruteScrub)
  }

  test("exactSubstr guards reject non-positive widths") {
    intercept[IllegalArgumentException] { exactSubstrSpans(docs(), minLen = 0) }
    intercept[IllegalArgumentException] { exactSubstrScrub(docs(), minLen = -1) }
  }

  test("exactSubstr selfRepeats: within-doc repetition joins the universe") {
    val span = (1 to 16).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      1L -> (span + " middle words " + span), // repeated only within doc 1
      2L -> "totally unrelated content here")
    // Default (cross-doc): doc 1's self-repeat survives (pinned above).
    val cross = exactSubstrScrub(docs(rows: _*), minLen = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cross(1L) === 0L)
    // selfRepeats: Lee et al.'s occurrence counting — BOTH copies of
    // the span are duplicated coverage; only the connective survives.
    val self = exactSubstrScrub(docs(rows: _*), minLen = 16,
      selfRepeats = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(self(1L) === ((2L, 32L, "middle words")))
    assert(self(2L)._2 === 0L)
    // And spans agree: two islands at the two occurrences.
    val spans = exactSubstrSpans(docs(rows: _*), minLen = 16,
      selfRepeats = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 1L, 16L), (1L, 19L, 16L)))
  }

  test("exactSubstr selfRepeats equals brute-force occurrence counting") {
    import org.scalacheck.Gen
    val w = 4
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(47L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(30)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    val allSpans = for {
      (id, t) <- rows; ts = toks(t)
      s <- 1 to math.max(ts.length - w + 1, 0)
    } yield (id, s, ts.slice(s - 1, s - 1 + w).mkString(" "))
    // TOTAL occurrence counting — the sole delta from the cross-doc
    // property test above.
    val repeated = allSpans.groupBy(_._3).filter(_._2.size > 1).keySet
    val covered: Map[Long, Set[Int]] = allSpans
      .filter(p => repeated(p._3))
      .groupBy(_._1)
      .map { case (id, occ) =>
        id -> occ.flatMap(p => p._2 until (p._2 + w)).toSet
      }
    val brute = rows.map { case (id, t) =>
      val ts = toks(t)
      val cov = covered.getOrElse(id, Set.empty)
      val kept = ts.zipWithIndex.collect {
        case (tok, i0) if !cov(i0 + 1) => tok
      }
      id -> ((ts.length.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap
    val out = exactSubstrScrub(docs(rows: _*), minLen = w,
      selfRepeats = true).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getString(4)))).toMap
    assert(out === brute)
  }

  test("exactSubstr minDocs threshold: 2-doc quotes survive at minDocs = 3") {
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ") // in 3 docs
    val quote = (1 to 16).map(i => s"c$i").mkString(" ")  // in 2 docs
    val rows = Seq(
      1L -> (boiler + " " + quote),
      2L -> ("x " + boiler),
      3L -> ("y " + boiler),
      4L -> ("z " + quote))
    // Raised threshold: only the 3-doc boilerplate is duplicated "enough";
    // the 2-doc quotation (possibly legitimate citation) survives.
    val at3 = exactSubstrScrub(docs(rows: _*), minLen = 16, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(at3(1L) === ((16L, quote)))
    assert(at3(2L)._1 === 16L && at3(3L)._1 === 16L)
    assert(at3(4L) === ((0L, "z " + quote)))
    // Default threshold (2): both spans are duplicated, everything goes.
    val at2 = exactSubstrScrub(docs(rows: _*), minLen = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(at2(1L) === 32L && at2(4L) === 16L)
    // And the spans side agrees at the raised threshold.
    val spans3 = exactSubstrSpans(docs(rows: _*), minLen = 16, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans3 === Set((1L, 1L, 16L), (2L, 2L, 16L), (3L, 2L, 16L)))
    intercept[IllegalArgumentException] {
      exactSubstrSpans(docs(), minLen = 16, minDocs = 1)
    }
  }

  // ------------------------------------------- span-level decontamination

  test("decontaminationScrub excises benchmark quotes, keeps the rest") {
    val quote = (1 to 6).map(i => s"q$i").mkString(" ") // 6 tokens, w=4
    val bench = docs(100L -> ("eval question intro " + quote + " answer choices"))
    val corpus = docs(
      1L -> ("training text begins " + quote + " and then continues on"),
      2L -> "no leak in this one at all honestly",
      // 3-token partial overlap — BELOW the window width, must survive.
      3L -> ("tail only q4 q5 q6 present here"))
    val out = Dedup.decontaminationScrub(corpus, bench, n = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((13L, 1L, 6L, "training text begins and then continues on")))
    assert(out(2L)._3 === 0L)
    assert(out(3L) === ((7L, 0L, 0L, "tail only q4 q5 q6 present here")))
    // Benchmark docs are NOT in the output.
    assert(!out.contains(100L))
  }

  test("decontaminationScrub leaves within-corpus repetition alone") {
    val span = (1 to 4).map(i => s"w$i").mkString(" ")
    val bench = docs(100L -> "completely unrelated benchmark content here")
    val corpus = docs(
      1L -> (span + " filler " + span), // repeated across corpus docs,
      2L -> (span + " other filler"))   // but NOT in the benchmark
    val out = Dedup.decontaminationScrub(corpus, bench, n = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) === 0L && out(2L) === 0L)
  }

  test("decontaminationScrub: fully-quoted doc empties; overlap vs two bench docs merges") {
    val a = "alpha beta gamma delta"
    val b = "gamma delta epsilon zeta"
    val bench = docs(100L -> a, 101L -> b)
    // Doc 1 = a ∪ b overlapped: windows matching DIFFERENT bench docs
    // must merge into ONE island covering everything.
    val corpus = docs(1L -> "alpha beta gamma delta epsilon zeta")
    val out = Dedup.decontaminationScrub(corpus, bench, n = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((6L, 1L, 6L, "")))
  }

  test("decontaminationScrub equals brute-force coverage on generated corpora") {
    import org.scalacheck.Gen
    val w = 4
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(31L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(30)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val (benchRows, corpusRows) = all.partition(_._1 % 5 == 0)

    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    val benchGrams = benchRows.flatMap { case (_, t) =>
      val ts = toks(t)
      (1 to math.max(ts.length - w + 1, 0))
        .map(s => ts.slice(s - 1, s - 1 + w).mkString(" "))
    }.toSet
    val brute = corpusRows.map { case (id, t) =>
      val ts = toks(t)
      val cov = (1 to math.max(ts.length - w + 1, 0))
        .filter(s => benchGrams(ts.slice(s - 1, s - 1 + w).mkString(" ")))
        .flatMap(s => s until (s + w)).toSet
      val kept = ts.zipWithIndex.collect {
        case (tok, i0) if !cov(i0 + 1) => tok
      }
      def nIslands(ps: Set[Int]): Long = {
        val sorted = ps.toSeq.sorted
        sorted.zip(-1 +: sorted.dropRight(1)).count { case (p, prev) => p != prev + 1 }.toLong
      }
      id -> ((ts.length.toLong, nIslands(cov), cov.size.toLong, kept.mkString(" ")))
    }.toMap

    val out = Dedup.decontaminationScrub(
      docs(corpusRows: _*), docs(benchRows: _*), n = w).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out === brute)
  }

  test("decontaminationScrub rejects non-positive widths") {
    intercept[IllegalArgumentException] {
      Dedup.decontaminationScrub(docs(), docs(), n = 0)
    }
  }

  // ----------------------------------------- incremental substring scrub

  test("incrementalSubstrScrub excises corpus-seen spans; batch-internal repeats survive") {
    val boiler = (1 to 5).map(i => s"b$i").mkString(" ") // 5 tokens, w=4
    val fresh = (1 to 4).map(i => s"f$i").mkString(" ")
    val corpus = docs(100L -> ("corpus page with " + boiler + " inside"))
    val batch = docs(
      1L -> ("new intro " + boiler + " new outro words"),
      // The SAME fresh span in two batch docs but absent from the
      // corpus: strictly batch-vs-corpus matching must keep it.
      2L -> (fresh + " plus padding tokens"),
      3L -> ("leading bits " + fresh))
    val out = Dedup.incrementalSubstrScrub(batch, corpus, n = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((10L, 1L, 5L, "new intro new outro words")))
    assert(out(2L)._3 === 0L)
    assert(out(3L)._3 === 0L)
    // Corpus docs are not output.
    assert(!out.contains(100L))
  }

  test("incrementalSubstrScrub equals brute-force coverage on generated corpora") {
    import org.scalacheck.Gen
    val w = 4
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val seed = org.scalacheck.rng.Seed(41L)
    val texts = Iterator.iterate(seed)(_.next)
      .take(30)
      .flatMap(s => doc.apply(Gen.Parameters.default, s))
      .toList
    val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val (batchRows, corpusRows) = all.partition(_._1 % 4 == 0)

    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
    val corpusGrams = corpusRows.flatMap { case (_, t) =>
      val ts = toks(t)
      (1 to math.max(ts.length - w + 1, 0))
        .map(s => ts.slice(s - 1, s - 1 + w).mkString(" "))
    }.toSet
    val brute = batchRows.map { case (id, t) =>
      val ts = toks(t)
      val cov = (1 to math.max(ts.length - w + 1, 0))
        .filter(s => corpusGrams(ts.slice(s - 1, s - 1 + w).mkString(" ")))
        .flatMap(s => s until (s + w)).toSet
      val kept = ts.zipWithIndex.collect {
        case (tok, i0) if !cov(i0 + 1) => tok
      }
      id -> ((ts.length.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap

    val out = Dedup.incrementalSubstrScrub(
      docs(batchRows: _*), docs(corpusRows: _*), n = w).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getString(4)))).toMap
    assert(out === brute)
  }

  test("incrementalSubstrScrub rejects non-positive widths") {
    intercept[IllegalArgumentException] {
      Dedup.incrementalSubstrScrub(docs(), docs(), n = 0)
    }
  }

  // --------------------------------------------------------- incremental dedup

  test("incremental dedup: corpus-seen and batch-internal dups drop, firsts survive") {
    // Normalization folds case/whitespace — doc 12 is a disguised copy of
    // the corpus doc, 13/14 are batch-internal dups (min id 13 survives).
    val corpus = docs(1L -> "existing corpus document", 2L -> "another one")
    val batch = docs(
      11L -> "a genuinely new document",
      12L -> "  EXISTING   corpus DOCUMENT ",
      13L -> "fresh but repeated in batch",
      14L -> "fresh but repeated in batch")
    val out = incrementalNewDocs(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(11L, 13L))
  }

  test("incremental dedup: empty corpus keeps one canonical per batch group") {
    val batch = docs(5L -> "x y", 6L -> "x y", 7L -> "z")
    val out = incrementalNewDocs(batch, docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(5L, 7L))
  }

  test("incremental dedup: empty batch yields no rows regardless of corpus") {
    assert(incrementalNewDocs(docs(), docs(1L -> "anything")).count() === 0)
  }

  test("crossSourceDupMatrix folds pairs by unordered source pair with a diagonal") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Pairs: (1,2) spans A-B, (2,3) spans B-A (reversed sources → same
    // unordered cell), (4,5) is intra-A (diagonal).
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val sources = Seq((1L, "A"), (2L, "B"), (3L, "A"), (4L, "A"), (5L, "A"))
      .toDF("doc_id", "source")
    val got = Dedup.crossSourceDupMatrix(pairs, sources)
      .orderBy("source_a", "source_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(("A", "A", 1L), ("A", "B", 2L)))
  }

  test("SortedLongIntersectCount matches size(array_intersect) on sorted distinct arrays") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // Random sorted-distinct pairs + the edge shapes: empty sides,
    // disjoint, identical, single-element overlap at both ends.
    val cases = Seq.fill(50) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong - 20).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong - 20).distinct.sorted
      (a, b)
    } ++ Seq(
      (Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 2L), Seq.empty[Long]),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val df = cases.toDF("a", "b").select(
      org.apache.spark.sql.graft.GraftSqlBridge.column(SortedLongIntersectCount(
        org.apache.spark.sql.graft.GraftSqlBridge.expression(col("a")),
        org.apache.spark.sql.graft.GraftSqlBridge.expression(col("b")))).as("merged"),
      size(array_intersect(col("a"), col("b"))).as("reference"))
    assert(df.filter(col("merged") =!= col("reference")).count() === 0)
    // Null input → null result, matching the built-in's semantics.
    val nulls = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b").select(
      org.apache.spark.sql.graft.GraftSqlBridge.column(SortedLongIntersectCount(
        org.apache.spark.sql.graft.GraftSqlBridge.expression(col("a")),
        org.apache.spark.sql.graft.GraftSqlBridge.expression(col("b")))).as("merged"))
    assert(nulls.head().isNullAt(0))
  }

  test("SortedStringIntersectCount matches size(array_intersect) on sorted distinct string arrays") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("", "a", "ab", "abc", "b", "ba", "é", "漢", "z9", "  ", "")
    val cases = Seq.fill(50) {
      val a = Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).distinct
      val b = Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).distinct
      (a, b)
    } ++ Seq((Seq.empty[String], Seq("x")), (Seq("x"), Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")))
    // Sort with Spark's own sort_array so the test exercises the exact
    // ordering contract the production call sites rely on.
    val df = cases.toDF("a0", "b0")
      .select(sort_array(col("a0")).as("a"), sort_array(col("b0")).as("b"))
      .select(
        org.apache.spark.sql.graft.GraftSqlBridge.column(SortedStringIntersectCount(
          org.apache.spark.sql.graft.GraftSqlBridge.expression(col("a")),
          org.apache.spark.sql.graft.GraftSqlBridge.expression(col("b")))).as("merged"),
        size(array_intersect(col("a"), col("b"))).as("reference"))
    assert(df.filter(col("merged") =!= col("reference")).count() === 0)
  }

  test("PairCollisionsExplode: all combinations, normalized orientation, tie branch (property)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GraftSqlBridge
    val rnd = new scala.util.Random(9)
    for (_ <- 1 to 15) {
      val m = rnd.nextInt(7) // includes 0 and 1 (no pairs)
      val elems = (1 to m).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(100)))
      val got = Seq(elems).toDF("ms")
        .select(GraftSqlBridge.column(PairCollisionsExplode(
          GraftSqlBridge.expression(col("ms")))))
        .select(col("p.a._1").as("aid"), col("p.a._2").as("ap"),
          col("p.b._1").as("bid"), col("p.b._2").as("bp"))
        .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getInt(3)))).toSeq
      // Reference: the Column formulation's exact semantics — successors
      // only, a = smaller FIRST FIELD, ties keep (later, earlier).
      val expected = for {
        i <- elems.indices; j <- (i + 1) until m
      } yield if (elems(i)._1 < elems(j)._1) (elems(i), elems(j)) else (elems(j), elems(i))
      assert(got.sorted === expected.sorted, s"elems=$elems")
      assert(got.size === m * (m - 1) / 2)
    }
  }

  // ------------------------------------------------ cross-split span leakage

  test("crossSplitSpanLeakage flags spans crossing the split, not same-split repeats") {
    val span = (1 to 16).map(i => s"tok$i").mkString(" ")
    val other = (1 to 16).map(i => s"alt$i").mkString(" ")
    val d = docs(
      1L -> s"$span filler one two three",
      2L -> s"prefix words here $span",  // same span, other split → leaks
      3L -> s"$other some tail content",
      4L -> s"lead in text $other")      // repeated but SAME split → clean
    // Odd ids train, even ids eval: the shared spans cross the boundary.
    val assign = when(col("doc_id") % 2L === 0L, "eval").otherwise("train")
    val got = Dedup.crossSplitSpanLeakage(d, assign, w = 16)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.exists(t => t._1 == 1L && t._2 == "train"))
    assert(got.exists(t => t._1 == 2L && t._2 == "eval"))
    val d2 = docs(
      1L -> s"$span filler one two three",
      3L -> s"$other some tail content",
      5L -> s"lead in text $other") // 3 and 5 both odd → both train
    val got2 = Dedup.crossSplitSpanLeakage(d2, assign, w = 16)
      .collect()
    assert(got2.isEmpty, "same-split repeats must not be flagged")
  }

  test("lshCalibrationAudit: estimate brackets the exact Jaccard; identity pairs max out") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " * 3
    val corpus = docs(
      1L -> base,
      2L -> (base + "EXTRA TAIL."), // near-dup of 1
      3L -> ("totally unrelated document about spark catalyst optimizer rules " * 3),
      4L -> base) // exact dup of 1
    val out = Dedup.lshCalibrationAudit(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byPair = out.map(t => (t._1, t._2) -> t).toMap
    // The exact-dup pair: inter == uni and every signature component agrees.
    val exact = byPair((1L, 4L))
    assert(exact._3 === exact._4 && exact._5 === 16L && exact._6 === 16L)
    // Near-dup pairs collide in some bucket and carry a high (not
    // necessarily perfect) agreement estimate alongside the exact counts.
    assert(byPair.contains((1L, 2L)) && byPair.contains((2L, 4L)))
    val nd = byPair((1L, 2L))
    assert(nd._3 < nd._4, "near-dup is not an exact dup")
    assert(nd._5 >= 8L && nd._5 <= 16L,
      "a J~0.9 pair must agree on most signature components")
    // Candidates never pair doc 3 with anything (no shared shingles).
    assert(!out.exists(t => t._1 == 3L || t._2 == 3L))
  }

  test("thresholdFrontier: monotone counts, equals per-threshold rebuilds, zero rows present") {
    // Exact dup pair (J = 1), a strong near-dup, and an unrelated doc.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val d = docs(
      1L -> base,
      2L -> base,
      3L -> (base + "lambda mu nu xi"),
      4L -> "totally different words nothing shared here at all whatsoever")
    val grid = Seq((3, 4), (9, 10), (1, 1))
    val out = Dedup.thresholdFrontier(d, grid, rows = 4, shingleWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))
    assert(out.length === 3)
    // Loosest-first ordering; counts monotonically non-increasing.
    assert(out.map(t => (t._1, t._2)).toSeq === Seq((3L, 4L), (9L, 10L), (1L, 1L)))
    assert(out.sliding(2).forall(w => w(0)._3 >= w(1)._3 && w(0)._4 >= w(1)._4))
    // Each frontier row equals an independent single-threshold build.
    grid.zip(out).foreach { case ((n, dd), row) =>
      val solo = Dedup.jaccardNearDupPairs(d, n, dd, rows = 4,
        shingleWidth = 10).collect()
      assert(row._3 === solo.length.toLong, s"pairs at $n/$dd")
      assert(row._4 === solo.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .distinct.length.toLong, s"docs at $n/$dd")
    }
    // The exact-dup pair must survive J = 1; the near-dup must not.
    val atOne = out.find(t => (t._1, t._2) == ((1L, 1L))).get
    assert(atOne._3 === 1L && atOne._4 === 2L)
  }

  test("thresholdFrontier references the pair plan once") {
    // n_pairs and n_docs come from one aggregate over one reference to the
    // lazy pair plan, so the banding aggregate appears exactly as often as
    // in jaccardNearDupPairs itself.
    val d = docs(1L -> "the quick brown fox jumps", 2L -> "the quick brown fox jumped")
    def cappedCollectors(df: DataFrame): Int =
      df.queryExecution.analyzed.map(_.expressions.map(_.collect {
        case c: CollectListCapped => c }.size).sum).sum
    val inPairs = cappedCollectors(
      jaccardNearDupPairs(d, 1, 2, k = 16, rows = 2, shingleWidth = 3))
    assert(inPairs >= 1, "pair plan has no banding aggregate")
    val frontier = thresholdFrontier(d, Seq((1, 2), (1, 1)), k = 16, rows = 2,
      shingleWidth = 3)
    assert(cappedCollectors(frontier) === inPairs)
    assert(frontier.collect().map(r => (r.getLong(2), r.getLong(3))).toSeq ===
      Seq((1L, 2L), (0L, 0L)))
  }

  test("thresholdFrontier guards: empty, bad rational, duplicates") {
    val d = docs(1L -> "a b c")
    intercept[IllegalArgumentException] {
      Dedup.thresholdFrontier(d, Seq.empty) }
    intercept[IllegalArgumentException] {
      Dedup.thresholdFrontier(d, Seq((5, 4))) }
    intercept[IllegalArgumentException] {
      Dedup.thresholdFrontier(d, Seq((1, 2), (2, 4))) }
    // The duplicate guard compares EXACT rationals: two candidates
    // within 1e-6 of each other (identical under the old truncated
    // key 999999) are genuinely distinct and must be accepted.
    Dedup.thresholdFrontier(d, Seq((999999, 1000000), (1999999, 2000000)))
  }
}
