package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the physical-plan properties the 100 TB design depends on. These are
 * the claims made in query scaladoc — if a refactor silently turns a
 * broadcast join into a sort-merge join or stops filters reaching the scan,
 * this suite fails even though results stay correct.
 */
class PlanShapeSpec extends AnyFunSuite with graft.testutil.OpenStreamLeakCheck {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filtered scan pushes predicates and prunes columns at the parquet source") {
    val df = CoreQueries.queries("q8_filtered_scan")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(!scan.contains("PushedFilters: []"), "pushed filter list is empty")
    // Projection must reach the reader: lineitem has 16 columns, the query
    // reads far fewer — the scan schema must not contain unused ones.
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), s"scan reads unused column: $readSchema")
  }

  test("revenue-by-nation broadcasts both dimension sides") {
    val p = plan(CoreQueries.queries("q2_revenue_by_nation")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dimension join is not broadcast")
    assert(!p.contains("SortMergeJoin"), "unexpected shuffle join for dimensions")
  }

  test("sketch aggregation plans as two-phase ObjectHashAggregate (partial before shuffle)") {
    val p = plan(CoreQueries.queries("hll_agg_months")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), "sketch agg not ObjectHashAggregate")
    // Partial aggregation must appear below the exchange: map-side sketches
    // are the whole scale story (shuffle |groups| x sketch, not raw rows).
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val firstPartial = p.indexOf("ObjectHashAggregate(keys=[l_returnflag")
    assert(firstExchange >= 0 && firstPartial >= 0)
    assert(p.substring(firstExchange).contains("ObjectHashAggregate"),
      "no partial aggregate below the shuffle")
  }

  test("window sketch re-merge: daily sketches aggregate partially below the user shuffle") {
    val p = plan(CoreQueries.queries("q62_window_sketch")(spark, sf))
    assert(p.contains("Window"), "no window operator in the plan")
    assert(p.contains("ObjectHashAggregate"), "daily sketch agg not ObjectHashAggregate")
    // The daily pre-aggregation must run below its exchange: the window
    // re-merges per-(user, day) sketches, never raw events.
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0 &&
      p.substring(firstExchange).contains("ObjectHashAggregate"),
      "no partial sketch aggregate below the shuffle")
  }

  test("KLL sketch aggregation also plans two-phase ObjectHashAggregate") {
    val p = plan(CoreQueries.queries("q24_quantile_sketch")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), "kll agg not ObjectHashAggregate")
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0 &&
      p.substring(firstExchange).contains("ObjectHashAggregate"),
      "no partial KLL aggregate below the shuffle")
  }

  test("freq heavy-hitters aggregates partial sketches before the single-partition exchange") {
    val p = plan(PipelineQueries.queries("q37_freq_heavyhitters")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), "freq agg not ObjectHashAggregate")
    // Global (no-key) aggregate: each partition must reduce its grams to one
    // bounded counter map BEFORE the exchange — the shuffle then carries one
    // sketch per partition, never the token stream.
    val firstExchange = p.indexOf("Exchange SinglePartition")
    assert(firstExchange >= 0, "no single-partition exchange for the global sketch")
    assert(p.substring(firstExchange).contains("partial_freq_init_agg"),
      "no partial freq aggregate below the shuffle")
  }

  test("quota cap runs the salted pre-rank before the per-key window") {
    val p = plan(PipelineQueries.queries("q38_source_quota")(spark, sf))
    // Phase 1 partitions by (key, salt): a hot key spreads over cells; the
    // per-key window only ever sees the <= n*salts survivors.
    assert(p.contains("__q_salt"), "no salted pre-cap phase in the plan")
    assert(!p.contains("CartesianProduct"))
    val firstWindow = p.indexOf("Window")
    assert(firstWindow >= 0 && p.substring(firstWindow + 6).contains("Window"),
      "expected both window phases in the plan")
  }

  test("sequence packing is one hash-partitioned window sort, no global order") {
    val df = PipelineQueries.queries("q39_sequence_packing")(spark, sf)
    // Drop the harness's presentation orderBy: the operator itself must
    // not introduce any global sort.
    val core = graft.operators.Packing.packByBudget(
      graft.sources.Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.lit(5L).as("n_tokens")),
      org.apache.spark.sql.functions.col("source"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_tokens"), 512L)
    val p = plan(core)
    assert(p.contains("Window"), "packing lost its window")
    assert(!p.contains("Exchange rangepartitioning"), "packing plans a global sort")
    assert(plan(df).contains("Window"))
  }

  test("corpus mix broadcasts the mixture spec, never shuffles the corpus") {
    val p = plan(PipelineQueries.queries("q41_corpus_mix")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "mixture spec not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      "corpus shuffled for the mixture join")
  }

  test("bloom decontamination probes map-side, before any exchange") {
    val p = plan(PipelineQueries.queries("q42_bloom_decontamination")(spark, sf))
    val probe = p.indexOf("bloom_might_contain")
    assert(probe >= 0, "no bloom probe in the plan")
    // The probe must sit in the corpus SCAN stage: between the probe
    // filter and its FileScan leaf there is no exchange, so grams are
    // pruned before anything shuffles.
    val scanBelow = p.indexOf("FileScan", probe)
    assert(scanBelow >= 0, "no scan under the bloom probe")
    assert(!p.substring(probe, scanBelow).contains("Exchange"),
      "exchange between bloom probe and corpus scan — grams shuffled unpruned")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel aggregates conditional mins partially below the user shuffle") {
    val p = plan(CoreQueries.queries("q43_funnel_signup_purchase")(spark, sf))
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0)
    assert(p.substring(firstExchange).contains("partial_min"),
      "no partial min below the shuffle — raw events would shuffle whole")
    assert(!p.contains("Join"), "funnel should be one aggregation, not self-joins")
  }

  test("minhash LSH never materializes a cartesian product") {
    // The operator is lazy, so the whole banding pipeline stays in one
    // inspectable plan.
    val df = graft.dedup.Dedup.jaccardNearDupPairs(
      graft.sources.Tables.documents(spark, sf),
      thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "q14 plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q14 plans a nested-loop join")
    // Verify counts intersections with the sorted merge kernel.
    assert(p.toLowerCase.contains("sortedstringintersectcount"),
      "MinHash verify regressed to a non-kernel intersection")
  }

  test("simhash banding joins on band keys, no cartesian, payload-free shuffle") {
    val df = PipelineQueries.queries("q15_dedup_simhash")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "q15 plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q15 plans a nested-loop join")
    // The band shuffle must never carry document text: no Exchange hashes
    // a 'txt'/'text' column.
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(!exchangeLines.exists(l => l.contains("txt") || l.contains("text")),
      s"document text rides a shuffle:\n${exchangeLines.mkString("\n")}")
  }

  test("exact embedding near-dup distributes via the block grid, no cartesian") {
    val p = plan(PipelineQueries.queries("q16_embed_neardup")(spark, sf))
    assert(!p.contains("CartesianProduct"), "q16 plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q16 plans a nested-loop join")
  }

  test("hyperplane LSH band subtree (production default path) is payload-free") {
    // Pin the invariant on bandedRows itself, the exact subtree the
    // operator feeds into the bucket-pair aggregation: its output must be
    // (id, band, bucket) only, vector-free.
    val base = graft.sources.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val banded = graft.similarity.Similarity.bandedRows(base, 16, 2, 64)
    assert(banded.columns.toSeq === Seq("id", "band", "bucket"),
      s"band rows carry extra payload: ${banded.columns.mkString(",")}")
    val bp = plan(banded)
    val gen = bp.linesIterator.filter(_.contains("Generate posexplode")).toSeq
    assert(gen.nonEmpty, "no posexplode band fan-out in bandedRows")
    assert(!gen.exists(l => l.contains("vec") || l.contains("embedding")),
      s"embedding vector survives into the band fan-out:\n${gen.mkString("\n")}")
  }

  test("hyperplane LSH banding is payload-free: no embedding rides a band exchange") {
    // The band rows are read once and never cached, so the banding stage
    // sits in the operator's one plan.
    val p = plan(graft.similarity.Similarity.cosineNearDupPairs(
      graft.sources.Tables.embeddings(spark, sf), threshold = 0.45,
      lshBits = 16, rowsPerBand = 2))
    assert(!p.contains("CartesianProduct"), "q54 plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q54 plans a nested-loop join")
    // The band fan-out (posexplode Generate) must emit (band, bucket, id)
    // only — the vector joins back by id afterwards. Pinning at the
    // Generate node keeps the test independent of whether the band join
    // broadcasts (tiny SF) or shuffles (at scale), and any band-keyed
    // exchange that does appear must be vector-free too.
    val fanOuts = p.linesIterator
      .filter(l => l.contains("Generate posexplode")).toSeq
    assert(fanOuts.nonEmpty, "no posexplode band fan-out found")
    assert(!fanOuts.exists(l => l.contains("vec") || l.contains("embedding")),
      s"embedding vector rides the band fan-out:\n${fanOuts.mkString("\n")}")
    val bandExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band"))
      .toSeq
    assert(!bandExchanges.exists(l => l.contains("vec") || l.contains("embedding")),
      s"embedding vector rides the band shuffle:\n${bandExchanges.mkString("\n")}")
  }

  test("one band fan-out per banded near-dup operator") {
    // Every banded operator reads its band rows once (Banding.bucketPairs):
    // a second fan-out in the executed plan means the signature pass runs
    // twice — a self-join over the bands, or a cache read by two consumers.
    // Counted on the adaptive plan's final section after execution, where a
    // reused exchange prints as one ReusedExchange line, not as a second
    // subtree. A band fan-out explodes the array of band keys; the pair
    // enumeration's posexplode runs over a collected member list instead.
    val docs = graft.sources.Tables.documents(spark, sf)
    val ops = Seq(
      "jaccardNearDupPairs" -> graft.dedup.Dedup.jaccardNearDupPairs(
        docs, thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10),
      "simhashNearDupPairs" -> graft.dedup.Dedup.simhashNearDupPairs(docs),
      "lshCalibrationAudit" -> graft.dedup.Dedup.lshCalibrationAudit(docs),
      "cosineNearDupPairs(lshBits = 16)" -> graft.similarity.Similarity
        .cosineNearDupPairs(graft.sources.Tables.embeddings(spark, sf),
          threshold = 0.45, lshBits = 16, rowsPerBand = 2))
    val fanOuts = ops.map { case (name, df) =>
      df.collect()
      name -> plan(df).split("== Initial Plan ==")(0).linesIterator
        .count(_.contains("Generate posexplode(array("))
    }
    assert(fanOuts.forall(_._2 == 1), s"band fan-outs per operator: $fanOuts")
  }

  // Both production paths of the operator are pinned: q59 runs the
  // direct path (collapseIdentical = false), q76 the identity-collapsed
  // one — a regression in either branch's wiring must fail here.
  for (collapse <- Seq(false, true))
    test(s"exact ngram-jaccard join (collapseIdentical=$collapse): " +
        "no cartesian, no document text on any exchange") {
      // Un-materialized so the prefix-filter pipeline is in one plan.
      val p = plan(graft.dedup.Dedup.ngramJaccardPairs(
        graft.sources.Tables.documents(spark, sf),
        thresholdNum = 1, thresholdDen = 2, n = 3,
        materializeCandidates = false, collapseIdentical = collapse))
      assert(!p.contains("CartesianProduct"), "q59/q76 plans a cartesian join")
      assert(!p.contains("BroadcastNestedLoopJoin"), "q59/q76 plans a nested-loop join")
      // The prefix-filter pipeline shuffles (gram, id) and per-doc gram sets
      // only — raw document text must never ride an exchange.
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty)
      assert(!exchanges.exists(l => l.contains("text") || l.contains("txt")),
        s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
      // The verify stage must count intersections with the sorted merge
      // kernel, not rebuild hash sets via array_intersect per pair.
      assert(p.toLowerCase.contains("sortedlongintersectcount"),
        "PPJoin verify regressed to a non-kernel intersection")
    }

  test("semantic dedup: embedding vectors never ride the cluster exchange") {
    // Fixed centroids through the plug-in seam: plan construction must not
    // run Lloyd's loop (kmeansCentroids collects between iterations).
    import spark.implicits._
    val cents = Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)))
      .toDF("cid", "cvec")
      .select(org.apache.spark.sql.functions.col("cid"),
        org.apache.spark.sql.functions.col("cvec").cast("array<float>").as("cvec"))
    // At toy SF the slim (cid, id) side broadcasts and no cid exchange
    // exists; disabling auto-broadcast surfaces the at-scale shuffle plan
    // this test exists to pin.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val p =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan(graft.similarity.Similarity.semanticDedup(
          graft.sources.Tables.embeddings(spark, sf), threshold = 0.45,
          centroids = cents))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // The only nested-loop join allowed is the broadcast of the tiny
    // centroid table; the within-cluster pair join shuffles slim (cid, id)
    // rows only. Embedding arrays legitimately cross the id-keyed
    // join-back exchanges — once per vector, never fanned out per pair.
    assert(!p.contains("CartesianProduct"), "semanticDedup plans a cartesian")
    val cidExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("cid"))
      .toSeq
    assert(cidExchanges.nonEmpty, "no cid-keyed exchange found")
    assert(!cidExchanges.exists(l => l.contains("vec") || l.contains("embedding")),
      s"embedding vector rides the cluster shuffle:\n${cidExchanges.mkString("\n")}")
  }

  test("token-budget selection: no global sort; only bucket totals hit one partition") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.text.TextAnalysis.tokenCount(
          org.apache.spark.sql.functions.col("text")).as("w"))
    val p = plan(graft.operators.Sampling.tokenBudgetSample(docs,
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("w"), 16000L, 11L))
    // The corpus-bearing prefix sum must be the bucket-partitioned window,
    // never a rangepartitioned total order.
    assert(!p.contains("Exchange rangepartitioning"),
      "token budget plans a global sort")
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(b#") && l.contains("h#")),
      "no bucket-partitioned cumulative window found")
    // Exactly one single-partition stage: the 128-row bucket-offsets
    // window over aggregated (b, tot) — aggregation sits below it, so the
    // corpus rows themselves never converge on one task.
    val singles = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles == 1, s"expected exactly one SinglePartition exchange, got $singles")
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("sum(weight")),
      "bucket totals are not aggregated before the offsets window")
  }

  test("span scrub applies removals map-side: no token array rides an exchange") {
    val p = plan(graft.dedup.Dedup.spanDedupScrub(
      graft.sources.Tables.documents(spark, sf), w = 16))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // Span coordinates (gh, id, start) and per-doc removal arrays shuffle;
    // the token arrays and raw text stay in their scan — the removal-apply
    // join must reach the docs side as a broadcast of the removal slivers,
    // never by hashing the corpus's ts/text columns across the cluster.
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(l => l.contains("ts#") || l.contains("text")),
      s"token arrays ride a shuffle:\n${exchanges.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), "removal apply join is not broadcast")
  }

  test("exact-substr dedup: coordinate-only exchanges, rolling prefilter, broadcast apply") {
    // Detection half: the span-merge window and all aggregations run
    // over (id, start, hash) coordinates — a shuffle carrying the token
    // arrays or raw text would be corpus-sized at 100 TB.
    val spans = plan(graft.dedup.Dedup.exactSubstrSpans(
      graft.sources.Tables.documents(spark, sf), minLen = 16))
    assert(spans.contains("rolling_span_hashes"),
      "rolling prefilter kernel missing — every window would pay md5")
    val exS = spans.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exS.nonEmpty)
    assert(!exS.exists(l => l.contains("ts#") || l.contains("text")),
      s"token arrays ride a detection shuffle:\n${exS.mkString("\n")}")
    // Apply half: same coordinate discipline, and the per-doc island
    // slivers must reach the token scan as a broadcast, never by
    // hashing the corpus's text across the cluster.
    val scrub = plan(graft.dedup.Dedup.exactSubstrScrub(
      graft.sources.Tables.documents(spark, sf), minLen = 16))
    assert(!scrub.contains("CartesianProduct") &&
      !scrub.contains("BroadcastNestedLoopJoin"))
    val exC = scrub.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exC.nonEmpty)
    assert(!exC.exists(l => l.contains("ts#") || l.contains("text")),
      s"token arrays ride a scrub shuffle:\n${exC.mkString("\n")}")
    assert(scrub.contains("BroadcastHashJoin"),
      "island apply join is not broadcast")
  }

  test("decontamination scrub: bench windows broadcast, corpus text never shuffles") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.dedup.Dedup.decontaminationScrub(
      docs.filter(org.apache.spark.sql.functions.col("source") =!= "src0"),
      docs.filter(org.apache.spark.sql.functions.col("source") === "src0"),
      n = 8))
    // The corpus gram stream must prune map-side against the broadcast
    // benchmark fingerprint/identity sets — a shuffle of corpus grams
    // (or worse, text) against the bench side is corpus-sized at 100 TB.
    assert(p.contains("rolling_span_hashes"),
      "rolling prefilter kernel missing — every corpus window would pay md5")
    assert(p.contains("BroadcastHashJoin"), "bench-side joins not broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!ex.exists(l => l.contains("ts#") || l.contains("text")),
      s"corpus token arrays ride a shuffle:\n${ex.mkString("\n")}")
  }

  test("incremental substring scrub: batch fingerprints broadcast, corpus pruned map-side") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val src = org.apache.spark.sql.functions.col("source")
    val p = plan(graft.dedup.Dedup.incrementalSubstrScrub(
      docs.filter(src.isin("src11", "src12")),
      docs.filter(!src.isin("src11", "src12")), n = 16))
    // The corpus is the BIG side here: its window stream must prune
    // against the broadcast batch fingerprints inside its one pass —
    // a corpus-wide shuffle (of coordinates on non-colliding windows,
    // or worse, of text) is the failure mode at 100 TB.
    assert(p.contains("rolling_span_hashes"),
      "rolling prefilter kernel missing — corpus windows would pay md5")
    assert(p.contains("BroadcastHashJoin"), "fingerprint joins not broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!ex.exists(l => l.contains("ts#") || l.contains("text")),
      s"token arrays ride a shuffle:\n${ex.mkString("\n")}")
  }

  test("repeated-span detection explodes FINGERPRINTS; md5 runs only on the post-join sliver") {
    val p = plan(graft.dedup.Dedup.repeatedSpans(
      graft.sources.Tables.documents(spark, sf), w = 16))
    // The corpus-wide window explode must be the O(bytes) rolling kernel —
    // an md5 inside the Generate means every window of every document pays
    // the hash again (the regression this pin exists to catch).
    assert(p.contains("rolling_span_hashes"), "rolling prefilter kernel missing from plan")
    val gens = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.nonEmpty)
    assert(!gens.exists(_.contains("md5")),
      s"window explode computes md5 corpus-wide again:\n${gens.mkString("\n")}")
    // The md5 identity still exists — downstream of the candidates join.
    assert(p.linesIterator.exists(l => l.contains("md5") && l.contains("Project")),
      "md5 confirm projection missing — oracle identity lost")
  }

  test("boilerplate removal rewrites map-side: text never rides an exchange") {
    val p = plan(graft.text.Cleanup.removeBoilerplateLines(
      graft.sources.Tables.documents(spark, sf), minDocs = 3))
    // The boilerplate set is ONE broadcast row joined by nested loop —
    // here that is the legit small-artifact pattern, not a plan defect.
    assert(p.contains("BroadcastNestedLoopJoin"),
      "boilerplate set is not broadcast to the rewrite projection")
    // Detection shuffles line-hash coordinates; the rewrite side must keep
    // text in its scan stage — no hash exchange may carry the text column.
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "no detection aggregation exchange found")
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
    assert(p.contains("sortedlongcontains"),
      "rewrite probe is not the binary-search kernel")
  }

  test("incremental near-dup joins band keys: no cartesian, text never shuffles") {
    val df = PipelineQueries.queries("q99_incremental_neardup")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "q99 plans a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "q99 plans a nested-loop join")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(l => l.contains("txt") || l.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("bigram LM scoring shuffles word coordinates only, never text") {
    val p = plan(PipelineQueries.queries("q103_bigram_lm_score")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("tfidf terms: corpus scanned once per aggregation, text never shuffled") {
    val p = plan(PipelineQueries.queries("q60_tfidf_terms")(spark, sf))
    assert(!p.contains("CartesianProduct"), "q60 plans a cartesian corpus join")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("hashed-TF vectors shuffle integer coordinates only, never text") {
    val p = plan(PipelineQueries.queries("q142_hashed_tf_vectors")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("hard negatives broadcast the anchors and bound the exchange via topk partials") {
    val p = plan(PipelineQueries.queries("q137_hard_negatives")(spark, sf))
    // Anchors ride a broadcast (the corpus is never the build side) …
    assert(p.contains("Broadcast"), "anchor side is not broadcast")
    assert(!p.contains("CartesianProduct"), "unbroadcast cartesian in hard negatives")
    // … and the per-anchor top-k aggregates PARTIALLY below the exchange:
    // at most k structs per anchor per task cross the wire, never whole
    // scored groups (the q4-window formulation would shuffle them all).
    val hashExchange = p.indexOf("Exchange hashpartitioning(query_id")
    val partial = p.indexOf("partial_topk_structs")
    assert(hashExchange >= 0 && partial >= 0)
    assert(partial > hashExchange,
      "topk partial aggregation did not plan below the exchange")
  }

  test("balanced per-key sampling aggregates topk partials below the exchange, text never shuffles") {
    val p = plan(PipelineQueries.queries("q146_sample_per_key")(spark, sf))
    val hashExchange = p.indexOf("Exchange hashpartitioning(key")
    val partial = p.indexOf("partial_topk_structs")
    assert(hashExchange >= 0 && partial >= 0)
    assert(partial > hashExchange,
      "per-key sample's topk partial did not plan below the exchange")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("incremental dedup anti-joins fingerprints only — text never shuffles") {
    val p = plan(PipelineQueries.queries("q61_incremental_dedup")(spark, sf))
    assert(p.contains("LeftAnti"), "corpus dedup is not an anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("decontamination broadcasts the benchmark grams, corpus joins map-side") {
    val p = plan(PipelineQueries.queries("q35_decontamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "benchmark gram join is not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("end-to-end pipeline query plans without any cartesian") {
    val p = plan(PipelineQueries.queries("q36_pipeline_end2end")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("brute-force ANN broadcasts the query side, never the corpus") {
    val df = PipelineQueries.queries("q17_ann_topk")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side not broadcast")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
  }

  test("k-means IVF broadcasts centroids on every pass, never the corpus") {
    val df = PipelineQueries.queries("q55_ann_ivf_kmeans")(spark, sf)
    val p = plan(df)
    // Assignment, probing, and re-rank all join against the k·dims centroid
    // table — each must broadcast; a corpus-side cartesian would be O(n²).
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroids not broadcast")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
  }

  test("salted algebraic aggregation pre-aggregates under both exchanges") {
    val df = CoreQueries.queries("q57_salted_agg")(spark, sf)
    val p = plan(df)
    // Two-phase shape: a (key, salt) exchange then a key exchange, each fed
    // by partial_* HashAggregates so no reducer ever sees raw hot-key rows.
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      "no map-side partial aggregation")
    val saltExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__salt"))
    assert(saltExchange, "no (key, salt) exchange — salting collapsed")
  }

  test("per-row text kernels (fingerprints, pretokens) shuffle nothing but the sort") {
    for (q <- Seq("q56_rolling_fingerprint", "q58_bpe_pretokens")) {
      val p = plan(PipelineQueries.queries(q)(spark, sf))
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q shuffles beyond the output sort:\n${exchanges.mkString("\n")}")
    }
  }

  test("whole-stage codegen covers the text-analysis projection") {
    val df = PipelineQueries.queries("q10_text_stats")(spark, sf)
    df.collect() // AQE only renders codegen spans in the final executed plan
    val p = plan(df)
    // toString renders WholeStageCodegen subtrees with a "*(stageId)" prefix.
    assert(p.contains("*("), "text stats fell out of whole-stage codegen")
  }

  test("weighted sample plans a bounded top-n (TakeOrderedAndProject), no global sort") {
    val p = plan(PipelineQueries.queries("q154_weighted_sample")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "weighted sample's top-n did not plan as TakeOrderedAndProject")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("rangepartitioning")),
      s"weighted sample pays a global sort:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("posting lists aggregate topk partials below the term exchange, text never shuffles") {
    val p = plan(PipelineQueries.queries("q155_posting_lists")(spark, sf))
    val hashExchange = p.indexOf("Exchange hashpartitioning(term")
    val partial = p.indexOf("partial_topk_structs")
    assert(hashExchange >= 0 && partial >= 0)
    assert(partial > hashExchange,
      "posting cap's topk partial did not plan below the term exchange")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text")),
      s"document text rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("key-skew report broadcasts the scalar total and bounds top-20 per task") {
    val p = plan(CoreQueries.queries("q161_key_skew_report")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "skew report's top-20 did not plan as TakeOrderedAndProject")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "scalar total is not broadcast back")
    assert(!p.contains("CartesianProduct"), "skew report plans a cartesian")
  }

  test("ngram generator streams through GenerateExec with no gram array below it") {
    val p = plan(PipelineQueries.queries("q162_ngram_generator_df")(spark, sf))
    assert(p.contains("Generate word_ngrams_explode"),
      "q162 does not plan the custom generator")
    // The (doc, gram) distinct collapse must aggregate partially before
    // its exchange — stopword-scale grams never cross the wire raw.
    val hashExchange = p.indexOf("Exchange hashpartitioning(ngram")
    val partialAgg = p.indexOf("HashAggregate")
    assert(hashExchange >= 0 && partialAgg >= 0 && partialAgg < hashExchange,
      "distinct gram collapse did not aggregate below its exchange")
  }

  test("semantic decontamination broadcasts the eval side, never shuffles train vectors") {
    val p = plan(PipelineQueries.queries("q117_semantic_decontam")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "eval side is not broadcast")
    assert(!p.contains("CartesianProduct"), "decontamination plans a cartesian")
    // Train embeddings must stay in their scan partitions: the only
    // exchanges allowed are the post-filter per-id aggregation (hash) and
    // the output sort (range) — neither may carry the embedding array.
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("embedding")),
      s"train embedding rides a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("padding audit: row volume never rides a sort — the only sort is the histogram window") {
    val df = graft.operators.Packing.paddingAudit(
      graft.sources.Tables.documents(spark, sf),
      graft.text.TextAnalysis.tokenCount(
        org.apache.spark.sql.functions.col("text")), batchSize = 32)
    val p = plan(df)
    // The cumulative window sorts the |distinct lengths| HISTOGRAM; a sort
    // whose child is the scan side would mean the rows themselves were
    // globally ordered — the shape the operator exists to avoid.
    val sorts = p.linesIterator.filter(_.trim.startsWith("+- Sort")).toSeq ++
      p.linesIterator.filter(_.trim.startsWith(":- Sort")).toSeq
    assert(p.contains("Window") || p.contains("window"), "no histogram window")
    assert(!p.contains("Exchange rangepartitioning"),
      "global range sort of input rows in the padding audit")
  }

  test("k-anonymity audit: thresholds fan out as a projection, not extra aggregation passes") {
    val df = graft.operators.Privacy.kAnonymityAudit(
      graft.sources.Tables.customer(spark, sf),
      Seq(org.apache.spark.sql.functions.col("c_nationkey"),
        org.apache.spark.sql.functions.col("c_mktsegment")),
      ks = Seq(2, 5, 10, 20))
    val p = plan(df)
    // Exactly two shuffles: the QI groupBy and the global reduce of the
    // group-size table. Four thresholds must NOT add passes.
    val nExchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(nExchanges <= 2, s"threshold fan-out added exchanges: $nExchanges\n$p")
    assert(p.contains("Generate explode"), "thresholds not a projection explode")
  }

  test("readability audit: ONE kernel pass, no extra exchange beyond the source groupBy") {
    val p = plan(PipelineQueries.queries("q218_readability")(spark, sf))
    assert(p.linesIterator.count(_.contains("readability_stats")) <= 2,
      s"kernel re-evaluated across operators:\n$p")
    // Row volume must die in the per-source partial aggregation: the only
    // hash exchange carries |sources| rows.
    val nHashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(nHashEx <= 1, s"readability audit added exchanges: $nHashEx")
  }

  test("chi-square audit: the margin cross is broadcast, never a shuffled cartesian") {
    val p = plan(PipelineQueries.queries("q220_chi_square")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "margin cross is not broadcast")
    assert(!p.contains("CartesianProduct"), "shuffled cartesian in the margin cross")
  }

  test("kendall tau: inversions fold in the aggregate — no window, no pair self-join") {
    // Pin the OPERATOR's plan on synthetic rank tables (the q222 arms
    // carry their own pinned shapes; here only the tau tail matters).
    import spark.implicits._
    val a = Seq((0L, 1, 10L), (0L, 2, 11L)).toDF("query_id", "rank", "doc_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 10L)).toDF("query_id", "rank", "doc_id")
    val p = plan(graft.operators.Retrieval.kendallTau(a, b, k = 10))
    assert(!p.contains("Window"), "per-pair window crept into the tau fold")
    assert(!p.contains("CartesianProduct"), "pair cartesian in the tau fold")
    assert(p.contains("aggregate("), "inversion count is not the aggregate fold")
  }

  test("ERR fold: graded relevance broadcasts to the rank join") {
    val p = plan(PipelineQueries.queries("q217_retrieval_err")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "graded relevance not broadcast")
  }

  test("bootstrap CI: the B-fold expansion collapses under a partial aggregate, no cartesian") {
    val p = plan(PipelineQueries.queries("q227_bootstrap_ci")(spark, sf))
    assert(p.contains("Generate explode"), "no replicate generator in the plan")
    assert(!p.contains("CartesianProduct"), "cartesian in the bootstrap plan")
    // The generator must feed a map-side HashAggregate BEFORE any
    // exchange — the expansion never crosses the wire.
    val gen = p.indexOf("Generate explode")
    val pre = p.substring(0, gen)
    assert(pre.contains("HashAggregate"),
      "no partial aggregate above the replicate generator (expansion would cross the exchange)")
  }

  test("fdr sweep: per-group counts ride interval cells — no |groups|-way row emission") {
    val p = plan(PipelineQueries.queries("q226_fdr_drift_sweep")(spark, sf))
    assert(!p.contains("CartesianProduct"), "shuffled cartesian in the sweep")
    // The threshold array reaches rows as a scalar-side broadcast; the
    // cells x ranks theta join is broadcast too (summary rows only).
    assert(p.contains("BroadcastNestedLoopJoin"),
      "threshold array / cells join is not broadcast")
    // The corpus-side expansion generator feeds the cell aggregate, and
    // the group fan-out happens on the CELLS, after that aggregate: the
    // plan must not contain a generator ABOVE a broadcast of per-group
    // rows on the corpus side (the 77M-row shape this replaced). Proxy
    // pin: exactly the grid's and the corpus's generators exist, and a
    // partial HashAggregate sits between the corpus generator and the
    // first exchange.
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, "no replicate generator")
    assert(p.substring(0, gen).contains("HashAggregate"),
      "no partial aggregate above the corpus-side generator")
  }

  test("rbo: the arm join stays per-query, no window, no cartesian") {
    import spark.implicits._
    val a = Seq((0L, 1, 10L), (0L, 2, 11L)).toDF("query_id", "rank", "doc_id")
    val b = Seq((0L, 1, 11L), (0L, 2, 10L)).toDF("query_id", "rank", "doc_id")
    val p = plan(graft.operators.Retrieval.rbo(a, b, k = 10))
    assert(!p.contains("Window"), "window crept into the rbo fold")
    assert(!p.contains("CartesianProduct"), "cartesian in the rbo fold")
  }

  test("truncation frontier: row volume dies in the histogram; the candidate fan-out rides summary rows") {
    val df = PipelineQueries.queries("q230_truncation_frontier")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "cartesian in the frontier")
    // The candidate explode must sit ABOVE the histogram aggregate —
    // i.e. a HashAggregate (the length histogram) appears below the
    // generator in the plan text (plans print top-down).
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, "no candidate generator")
    assert(p.substring(gen).contains("HashAggregate"),
      "candidate fan-out is not over the aggregated histogram")
  }

  test("streaming k-anonymity gate releases exactly the >=k cohorts (single drain = batch rule)") {
    // Not a plan pin but the gate's end-to-end batch-parity contract at
    // fixture scale, kept here with the other q-level invariants.
    val out = CoreQueries.queries("q199_streaming_kanon_gate")(spark, sf)
      .groupBy("event_type", "vb")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(2) >= 8L), "a sub-k cohort leaked through the gate")
  }
}
