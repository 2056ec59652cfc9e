package graft.queries

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sources.Tables
import graft.text.{Cleanup, PerceptronTrainer, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Harness queries for the training-data pipeline layer: text analysis,
 * deduplication, similarity search, multimodal plumbing. Oracle rules as in
 * [[CoreQueries]]; additionally every similarity/dedup threshold is an
 * integer rational and float scores never appear in compared output.
 */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-document integer quality signals — one fused kernel pass, no
    // shuffle. The two-step select keeps the kernel at one eval per row
    // (CollapseProject refuses to duplicate non-cheap expressions).
    "q10_text_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.textStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_chars").as("n_chars"),
          col("st.n_tokens").as("n_tokens"),
          col("st.n_distinct_tokens").as("n_distinct_tokens"),
          col("st.n_subtokens").as("n_subtokens"),
          col("st.n_alpha_chars").as("n_alpha_chars"),
          col("st.n_punct_chars").as("n_punct_chars"),
          col("st.stopword_hits").getItem(0).as("n_stopword_tokens"),
          col("st.max_token_len").as("max_token_len"))
        .orderBy("doc_id")
    }),

    // Stopword-evidence language guess vs the labeled lang column: the same
    // fused kernel scores all four languages in one tokenization.
    "q11_text_langid" -> ((s, dir) => {
      val langs = graft.text.Stopwords.ByLanguage
      val hits = TextAnalysis.textStats(col("text"), langs.map(_._2)).getField("stopword_hits")
      val scored = langs.zipWithIndex.map { case ((lang, _), i) =>
        struct(col("hits").getItem(i).as("hits"),
          lit(langs.size - i).as("pref"), lit(lang).as("lang"))
      }
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang").as("labeled"), hits.as("hits"))
        .select(col("doc_id"), col("labeled"),
          array_max(array(scored: _*)).getField("lang").as("guessed"))
        .orderBy("doc_id")
    }),

    // Repetition signals per document — the boilerplate/degenerate-text
    // filter inputs (duplicate-line counts, top bigram). Integer outputs;
    // two-step select so the kernel evaluates once per row.
    "q34_text_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_lines").as("n_lines"),
          col("r.dup_lines").as("dup_lines"),
          col("r.dup_line_chars").as("dup_line_chars"),
          col("r.n_bigrams").as("n_bigrams"),
          col("r.top_bigram").as("top_bigram"))
        .orderBy("doc_id")
    }),

    // Gopher-family word-n-gram repetition signals (n=3): top-gram and
    // duplicated-gram occurrence/char counts — the integer numerators of
    // the paper's "fraction of chars in the top / in duplicated n-grams"
    // filters. Same shape as q34: one kernel pass, map-side only.
    "q111_ngram_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.ngramRepetitionStats(col("text"), 3).as("r"))
        .select(col("doc_id"),
          col("r.n_ngrams").as("n_ngrams"),
          col("r.top_ngram").as("top_ngram"),
          col("r.top_ngram_chars").as("top_ngram_chars"),
          col("r.dup_ngrams").as("dup_ngrams"),
          col("r.dup_ngram_chars").as("dup_ngram_chars"))
        .orderBy("doc_id")
    }),

    // Corpus release diff: classify every doc across two dataset versions
    // (previous release synthesized deterministically from the same table,
    // the q109/q113 convention: doc_id%17=0 docs are new in current,
    // %19=0 were dropped, %13=0 were re-archived with changed text) and
    // report per-(source, status) counts — the audit run between corpus
    // releases before re-training on "the same data, refreshed". Only
    // (doc_id, fp) coordinates cross the full-outer join; text stays in
    // its scans.
    "q119_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" [archived revision]"))).otherwise(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      val cur = docs.filter(col("doc_id") % 19 =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      graft.operators.Cdc.snapshotDiff(prev, cur)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source", "status").agg(count(lit(1)).as("n"))
        .orderBy("source", "status")
    }),

    // SEMANTIC decontamination: train vectors within cosine 0.35 of ANY
    // eval-set vector (label = 7 plays the benchmark) — the embedding-space
    // complement of q35's exact 8-gram matching, catching paraphrased eval
    // leakage. Eval side broadcasts (benchmarks are small by construction);
    // the train corpus is one map-side pass and only flagged ids reach the
    // aggregation. Integer hit counts out; the 0.35 gate is the same
    // widen-to-double cosine agreement q16 pins.
    "q117_semantic_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticContamination(
        emb.filter(col("label") =!= 7),
        emb.filter(col("label") === 7), threshold = 0.35)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    }),

    // STREAMING ingest capstone: scrub → model-quality gate → keep-first
    // exact dedup with duplicate accounting, continuously maintained in
    // one pass over the document stream (the streaming form of q36's
    // batch pipeline front half). Every stage is a per-row projection
    // until the fingerprint state update, so the only state is the dedup
    // table itself; the memory-sink view is reduced to latest-state-per-
    // fingerprint exactly like q113, and must equal the batch re-derivation
    // from the same files — which is what the oracle computes.
    "q118_streaming_ingest" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val cleaned = Tables.documentsStream(s, dir)
        .withColumn("text", Cleanup.scrub(col("text")))
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.linearQualityScore(col("text")).as("score"))
        .filter(col("score") >= 0)
        .select(col("doc_id"), col("fp"))
        .as[graft.streaming.IngestDoc]
      val kept = graft.streaming.StreamingOps.keepFirstByFingerprint(s, cleaned)
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "documents"))(
        kept.toDF().writeStream.format("memory").queryName("q118_mem")
          .outputMode("update").trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      // Multi-batch safe: keep each fingerprint's LATEST state (largest
      // n_dups; doc_id only ever decreases, so min pairs with it).
      s.table("q118_mem").groupBy("fp")
        .agg(min(col("doc_id")).as("doc_id"), max(col("n_dups")).as("n_dups"))
        .select(col("doc_id"), col("fp"), col("n_dups"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: docs sharing any 8-token gram with the
    // held-out set (source = src0 plays the eval set). Broadcast hashed
    // benchmark grams, map-side join — integer overlap counts out.
    "q35_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 8)
        .orderBy("doc_id")
    }),

    // The capstone: a complete training-data pipeline in ONE query —
    // cleanup scrub (NFC-normalize → strip markup where present → PII
    // redaction, all per-row projections) → exact dedup (keep canonical
    // ids) → benchmark decontamination (drop docs sharing an 8-gram with
    // the src0 eval set) → quality filtering (length bounds,
    // distinct-token ratio >= 30%, duplicate-line and top-bigram caps,
    // all integer rationals) → deterministic 90/10 train/val split.
    //
    // SINGLE-SCAN shape (round-12 sweep): the naive composition of
    // exactDupGroups + ngramContamination + repetitionStats re-runs the
    // scrub+tokenize kernels once per consumer subtree (4 corpus scans —
    // Catalyst can't share scans across plan branches, and per-consumer
    // pruning defeats exchange reuse, the q189 lesson). Instead ONE
    // projection derives everything downstream needs — fingerprint, the
    // per-doc 8-gram hash set, the repetition struct — and persists THAT
    // (never the text: the cached table is the derived columns only, the
    // in-engine analogue of checkpointing the cleaned corpus, which any
    // real 100 TB pipeline writes to disk at exactly this seam). The
    // cache manager substitutes the one materialized scan into all three
    // consumers regardless of pruning. Lazy + lineage-preserving, same
    // contract as marginMinedPairs' avgs cache; 1.83 → 1.16 s at sf0.1.
    // Per-consumer semantics are the named operators', unchanged:
    // canonical = min doc_id per fingerprint (exactDupGroups), contaminated
    // = any gram hash in the distinct bench set, broadcast map-side
    // (ngramContamination with the same md5-64 gram hashing).
    "q36_pipeline_end2end" -> ((s, dir) => {
      val enriched = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), Cleanup.scrub(col("text")).as("text"))
        .select(col("doc_id"), col("source"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          transform(Dedup.wordShingles(TextAnalysis.tokens(col("text")), 8),
            g => graft.operators.Sampling.md5Hash64(g)).as("gh"),
          TextAnalysis.repetitionStats(col("text")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = enriched.filter(col("source") =!= "src0")
      val benchGh = enriched.filter(col("source") === "src0")
        .select(explode(col("gh")).as("gh")).distinct()
      val canonicalIds = corpus.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val contaminated = corpus
        .select(col("doc_id"), explode(col("gh")).as("gh"))
        .join(broadcast(benchGh), "gh")
        .select(col("doc_id")).distinct()
      val signals = corpus
        .join(canonicalIds, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          col("r.n_distinct_tokens").as("n_distinct"),
          col("r.n_lines").as("n_lines"), col("r.dup_lines").as("dup_lines"),
          col("r.n_bigrams").as("n_bigrams"), col("r.top_bigram").as("top_bigram"))
      signals
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 5000 &&
          col("n_distinct") * 10 >= col("n_tokens") * 3 &&
          col("dup_lines") * 5 <= col("n_lines") &&
          col("top_bigram") * 5 <= greatest(col("n_bigrams"), lit(1)))
        .select(col("doc_id"),
          graft.operators.Sampling.splitColumn(col("doc_id"),
            Seq("train" -> 9L, "val" -> 1L), 10L).as("split"))
        .orderBy("doc_id")
    }),

    // Corpus-wide heavy-hitter bigrams via ONE frequent-items sketch —
    // boilerplate/template detection without a token-level groupBy: each
    // partition ships a bounded counter map (<= 2048 entries) instead of
    // shuffling every distinct gram, and the support threshold is
    // scale-free (1500 ppm of the bigram stream). The 2048-slot map holds
    // this corpus's whole bigram vocabulary, so freq_max_error = 0 and
    // every reported count is exact — which is what lets DuckDB's exact
    // GROUP BY serve as the oracle.
    "q37_freq_heavyhitters" -> ((s, dir) => {
      import graft.freq.functions._
      val ts = TextAnalysis.tokens(col("text"))
      val bigrams = when(size(ts) < 2, array().cast("array<string>"))
        .otherwise(zip_with(
          slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
          (a, b) => concat_ws(" ", a, b)))
      Tables.documents(s, dir)
        .select(explode(bigrams).as("bg"))
        .agg(freq_init_agg(col("bg"), 2048).as("sk"))
        .select(explode(freq_items_by_support(col("sk"), 1500L)).as("hh"))
        .select(col("hh.item").as("item"), col("hh.cnt").as("cnt"))
        .orderBy("item")
    }),

    // Per-source quota: at most 10 docs per source, chosen by the engine-
    // neutral (md5(id), id) order. Runs the skew-safe two-phase plan
    // (16-way salted pre-cap, then the bounded per-key re-rank) — on this
    // corpus both phases are cheap; at 100 TB phase 1 is what keeps a
    // mega-domain from serializing through one task.
    "q38_source_quota" -> ((s, dir) => {
      graft.operators.Quota.quotaCap(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        keyCol = col("source"), idCol = col("doc_id"), n = 10)
        .orderBy("doc_id")
    }),

    // Sequence packing: per-source concat-then-chunk into 512-token bins.
    // Token counts come from the same fused TextStats kernel as q10, the
    // stream order is the auditable (md5(id), id), and the bin math is
    // exact integer div/mod — so DuckDB re-derives every assignment.
    "q39_sequence_packing" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.textStats(col("text")).getField("n_tokens").cast("long").as("n_tokens"))
      graft.operators.Packing.packByBudget(docs,
        partCol = col("source"), idCol = col("doc_id"),
        tokensCol = col("n_tokens"), budget = 512L)
        .orderBy("doc_id")
    }),

    // Corpus mixing: re-weight twelve sources at 1/4..4/4 rates through
    // ONE broadcast of the mixture spec. Unlisted sources drop (whitelist
    // semantics); kept rows are the engine-neutral md5-threshold sample,
    // nested across rate changes.
    "q41_corpus_mix" -> ((s, dir) => {
      graft.operators.Sampling.weightedMix(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        keyCol = col("source"), idCol = col("doc_id"), weights = mixWeights)
        .orderBy("doc_id")
    }),

    // The q41 mixture's reconciliation report: per source, the spec rate,
    // total docs, and docs the mix keeps — how an operator audits a spec
    // change before committing it (unlisted sources surface with null
    // rates and n_kept = 0 instead of silently vanishing). The oracle
    // re-derives the kept counts from the same md5-threshold rule, with
    // the thresholds computed from the SAME weights list.
    "q77_mix_audit" -> ((s, dir) => {
      graft.operators.Sampling.mixAudit(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        keyCol = col("source"), idCol = col("doc_id"), weights = mixWeights)
        .orderBy("key")
    }),

    // The per-source corpus report card: the one dashboard row an operator
    // reads before deciding what a source needs (dedup? filtering? a
    // langid pass?). Composes the text kernels into counts only — doc
    // volume, token volume, distinct-fingerprint count (exact-dup signal),
    // sub-10-token doc count, and the majority language guess (mode with
    // a deterministic (count, lang)-max tie-break). Two vocab-bounded
    // aggregations; text never shuffles.
    "q83_corpus_report" -> ((s, dir) => {
      // ONE TextStats kernel pass feeds both the token count and all four
      // languages' stopword hits (the composed builders would tokenize
      // five times per row); the struct binds in its own projection per
      // the textStats contract. round-12 sweep: 0.73 -> ~0.5 s at sf0.1.
      val base = Tables.documents(s, dir)
        .select(col("source"), col("text"),
          TextAnalysis.textStats(col("text"), TextAnalysis.languageHitLists).as("st"))
        .select(col("source"),
          col("st.n_tokens").as("ntok"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.languageGuessFromHits(col("st.stopword_hits")).as("g"))
      val agg = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok").cast("long")).as("n_tokens"),
        count_distinct(col("fp")).as("n_distinct_fp"),
        coalesce(sum(when(col("ntok") < 10, 1L).otherwise(0L)), lit(0L))
          .as("n_short_docs"))
      val lang = base.groupBy("source", "g").agg(count(lit(1)).as("n"))
        .groupBy("source").agg(max(struct(col("n"), col("g"))).as("m"))
        .select(col("source"), col("m.g").as("majority_lang"))
      agg.join(lang, "source").orderBy("source")
    }),

    // Deterministic epoch shuffle for training-data serving: shard + a
    // reproducible within-shard position per doc (seed 7, 8 shards), no
    // global sort — one exchange by shard, parallel local sorts. The
    // permutation key is the auditable md5-64 of "seed:id", so DuckDB
    // re-derives the exact same order (signed-order re-bias as in q75;
    // power-of-two shard count makes unsigned mod equal Spark's pmod).
    "q79_epoch_shuffle" -> ((s, dir) => {
      graft.operators.Sampling.epochShards(
        Tables.documents(s, dir).select(col("doc_id")),
        idCol = col("doc_id"), seed = 7L, nShards = 8)
        .orderBy("shard", "pos")
    }),

    // Integrity manifest of q79's shard layout: per shard, row count,
    // content mass, id range, and the order-independent xor-of-row-md5
    // checksum a release consumer re-derives on its own copy. Rides the
    // REAL epochShards assignment; the unused within-shard `pos` window
    // is pruned by the optimizer (LayoutSpec pins that), so the manifest
    // costs one map-side-combined aggregation — |shards| rows of shuffle.
    "q192_shard_manifest" -> ((s, dir) => {
      val sharded = graft.operators.Sampling.epochShards(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        idCol = col("doc_id"), seed = 7L, nShards = 8)
      graft.sources.Layout.shardManifest(sharded,
        col("shard"), col("doc_id"), col("text"))
    }),

    // Cross-document repeated spans: every 16-token window (stride 1,
    // rolling over the whole corpus as md5-64 window hashes) that appears
    // in MORE THAN ONE document, reported per doc as (count, first
    // position) — the coordinates a substring-level dedup scrubber
    // consumes (à la "deduplicating training data", span-level). Only
    // (doc_id, start, hash) coordinates ever shuffle — text stays in the
    // scan. Within-doc repetition is deliberately excluded (q34's job);
    // the distinct-doc count is what makes a span cross-document.
    "q64_repeated_spans" -> ((s, dir) => {
      // Rabin–Karp fingerprints find the cross-doc window candidates in
      // one O(bytes) pass per doc; only that sliver pays the md5-64 the
      // repeat identity (and the oracle) is defined by — see
      // Dedup.repeatedSpans. md5-per-window was ~2/3 of this query.
      Dedup.repeatedSpans(Tables.documents(s, dir), w = 16)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_repeated_spans"),
          min(col("start").cast("long")).as("first_repeated_start"))
        .orderBy("doc_id")
    }),

    // The APPLY step downstream of q64's detection: delete every
    // cross-document repeated 16-token span except its corpus-wide first
    // occurrence, emitting cleaned text per doc. Output fingerprints the
    // cleaned text (md5) so only integers and 32-char hashes cross the
    // engine boundary; DuckDB re-derives keeper selection, coverage
    // removal, and the rebuilt token stream exactly.
    "q78_span_scrub" -> ((s, dir) => {
      Dedup.spanDedupScrub(Tables.documents(s, dir), w = 16)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Cross-document repeated-SUBSTRING dedup, DETECTION half (the
    // ExactSubstr side of Lee et al. 2022; q16/q14 et al. are the
    // doc-level half): every MAXIMAL token span of length >= 16
    // duplicated verbatim across documents, overlapping duplicated
    // windows fused into islands. Window-hash coverage equals the
    // suffix-array dedup set at token granularity (proof in the
    // operator's scaladoc); only (doc, start, hash) coordinates ever
    // shuffle, and the span merge is a lag/sum window over coordinates.
    "q242_exact_substr_spans" -> ((s, dir) => {
      Dedup.exactSubstrSpans(Tables.documents(s, dir), minLen = 16)
        .orderBy("doc_id", "span_start")
    }),

    // The APPLY half: excise EVERY occurrence of cross-document
    // duplicated coverage (no keeper — contrast q78's
    // keep-one-canonical-copy policy), with before/after token
    // accounting; only integers and the cleaned text's md5 cross the
    // engine boundary.
    "q243_exact_substr_scrub" -> ((s, dir) => {
      Dedup.exactSubstrScrub(Tables.documents(s, dir), minLen = 16)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // q243 in Lee et al.'s exact occurrence-counting universe
    // (selfRepeats): a span repeated twice inside ONE document also
    // qualifies — their suffix array counts occurrences, not documents
    // — so within-doc boilerplate (repeated headers, chorus lines) is
    // excised too. Same coordinate machinery; the candidate prefilter
    // widens to total counts.
    "q248_exact_substr_self" -> ((s, dir) => {
      Dedup.exactSubstrScrub(Tables.documents(s, dir), minLen = 16,
          selfRepeats = true)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Span-level decontamination APPLY — the repair next to the
    // detection trio (q35 counts, q42 bloom prune, q63 pairs): excise
    // every 8-token span a corpus doc shares verbatim with the src0
    // benchmark, keeping the rest of the document (dropping the whole
    // doc over one embedded eval question wastes data). Benchmark
    // fingerprints + md5 identities broadcast; corpus text never
    // shuffles; within-corpus repetition not in the benchmark survives.
    "q245_decontamination_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminationScrub(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Span-level INCREMENTAL ingest hygiene — the q61/q99/q108 family
    // completed at span resolution: excise from each new-batch doc
    // (src11/src12, the family's batch fixture) every 16-token span
    // already present verbatim in the accumulated corpus; the novel
    // remainder survives. Batch fingerprints broadcast, the corpus
    // stream prunes map-side in ONE pass, only colliding slivers pay
    // md5 on either side.
    "q247_incremental_substr_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalSubstrScrub(
        docs.filter(col("source").isin("src11", "src12")),
        docs.filter(!col("source").isin("src11", "src12")), n = 16)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Per-pair containment: WHICH src0 eval doc leaked into WHICH corpus
    // doc, as the fraction of the eval doc's 8-gram set present (>= 1/2
    // keeps wholesale quotes, not topical overlap). Asymmetric by design —
    // the denominator is the BENCHMARK side.
    "q63_containment_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.containmentPairs(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 8,
        thresholdNum = 1, thresholdDen = 2)
        .orderBy("doc_id", "bench_id")
    }),

    // Decontamination again, through the bloom membership path: the bench
    // grams become ONE collected bloom filter, the corpus gram stream is
    // pruned map-side, and exact verification of the tiny survivor stream
    // removes the filter's false positives — so this oracles against the
    // SAME SQL as q35, proving prune-then-verify loses nothing.
    "q42_bloom_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramContaminationBloom(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 8, expectedGrams = 4096L)
        .orderBy("doc_id")
    }),

    // Corpus overlap matrix: vocabulary Jaccard ingredients for every
    // source pair, from ONE theta sketch per source — the "how much do my
    // crawls overlap?" diagnostic. Tokens shuffle once into 20 sketches;
    // the 190-pair comparison then runs on kilobyte sketches, never
    // re-touching the corpus (set intersections are exact in exact mode,
    // so the whole matrix oracles).
    "q45_source_vocab_overlap" -> ((s, dir) => {
      import graft.theta.functions._
      val sketches = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy("source").agg(theta_init_agg(col("t")).as("sk"))
      val a = sketches.select(col("source").as("src_a"), col("sk").as("sk_a"))
      val b = sketches.select(col("source").as("src_b"), col("sk").as("sk_b"))
      a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          theta_estimate(col("sk_a")).as("vocab_a"),
          theta_estimate(col("sk_b")).as("vocab_b"),
          theta_estimate(theta_intersect(col("sk_a"), col("sk_b"))).as("vocab_shared"))
        .orderBy("src_a", "src_b")
    }),

    // Retrieval-style chunking: overlapping token-window spans per
    // document (512-token chunks, 64-token overlap). Like frame sampling,
    // only COORDINATES are emitted — (chunk_idx, start_token, len) from
    // pure integer arithmetic over the token count; slicing happens lazily
    // downstream. Map-side one-to-many, no shuffle, and the whole span
    // table oracles from n_tokens alone.
    "q50_chunk_spans" -> ((s, dir) => {
      val step = 448 // 512 - 64 overlap
      val n = TextAnalysis.textStats(col("text")).getField("n_tokens")
      Tables.documents(s, dir)
        .select(col("doc_id"), n.as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          explode(sequence(lit(0), floor((col("n_tokens") - 1) / step).cast("int")))
            .as("chunk_idx"))
        .select(col("doc_id"),
          col("chunk_idx"),
          (col("chunk_idx") * step).cast("long").as("start_token"),
          least(lit(512L), col("n_tokens").cast("long") - col("chunk_idx") * step)
            .as("len_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Deterministic fill-in-the-middle span selection: each eligible
    // doc's (prefix, middle, suffix) split from md5-64 draws on its id —
    // the reproducible infilling-training prep step. Offsets AND the
    // middle's content fingerprint re-derive engine-exactly (pure
    // integer arithmetic + md5 of the same substring); zero shuffle,
    // text never leaves the scan stage.
    "q191_fim_spans" -> ((s, dir) => {
      TextAnalysis.fimSpans(Tables.documents(s, dir),
        idCol = col("doc_id"), textCol = col("text"))
    }),

    // Content fingerprints (md5 of normalized text) — the dedup key.
    "q12_text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Exact dedup groups over fingerprints.
    // LLM token budgeting: GPT-2-family pretokenizer piece counts (the
    // unit sequence-length accounting is denominated in) plus the matched
    // character mass. Pure projection; the oracle runs the identical
    // RE2-safe pattern through DuckDB's regexp_extract_all.
    "q58_bpe_pretokens" -> ((s, dir) => {
      val pieces = TextAnalysis.bpePieces(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(pieces).as("n_bpe_pieces"),
          aggregate(transform(pieces, p => length(p)), lit(0), (a, x) => a + x)
            .as("n_bpe_chars"))
        .orderBy("doc_id")
    }),

    // Tokenizer training, step 1: the first BPE merge is the most frequent
    // adjacent character pair WITHIN pretokenizer pieces (merges never
    // cross piece boundaries — that is what the pretokenizer is for).
    // Corpus-wide pair counts from one scan: explode pieces, slide a
    // 2-char window, count. Top 20 under the total order (count desc,
    // pair asc) — a deterministic LIMIT. The pieces column binds in its
    // own projection so the lambda never re-runs the pretokenizer regex
    // (the q64 lesson).
    "q65_bpe_merge_candidates" -> ((s, dir) => {
      val pairs = when(length(col("p")) >= 2, transform(
        sequence(lit(1), length(col("p")) - 1),
        i => col("p").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.bpePieces(col("text"))).as("p"))
        .select(explode(pairs).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // BPE merge LEARNING — q65's pair scan iterated into the real
    // algorithm: four rounds of count-pairs → adopt argmax → re-segment
    // greedily, each round one vocabulary-bounded aggregation (see
    // Bpe.learnMerges for the scale contract). The oracle re-runs all
    // four rounds relationally in DuckDB, including the greedy
    // left-to-right re-segmentation, so every adopted merge AND its count
    // certify the full round state — a wrong round-k application would
    // shift round-k+1's counts.
    "q91_bpe_learn" -> ((s, dir) => {
      graft.text.Bpe.learnMerges(Tables.documents(s, dir), nMerges = 4)
        .orderBy("round")
    }),

    // The ENCODE half: segment the corpus with the four merges just
    // learned from it and report the top-20 piece histogram under the
    // (n desc, piece) total order. Learning already ends with the
    // vocabulary segmented under all four merges, so the histogram reads
    // that persisted vocabulary directly (learnMergesSegmented) instead
    // of paying a second corpus pass to re-derive it — one corpus scan
    // total, everything after vocabulary-bounded. The oracle re-learns
    // AND re-applies all four rounds relationally — see q95 in the
    // oracle map.
    "q95_bpe_piece_histogram" -> ((s, dir) => {
      val (_, segmented) =
        graft.text.Bpe.learnMergesSegmented(Tables.documents(s, dir), nMerges = 4)
      graft.text.Bpe.pieceHistogramOfSegmented(segmented)
        .orderBy(col("n").desc, col("piece")).limit(20)
    }),

    // Tokenizer fertility per language: pieces-per-word under the learned
    // 4-merge BPE — the number a tokenizer team watches per language
    // before committing a vocabulary (high fertility = the language pays
    // more sequence length per word). Reformulated over the bpe_encode
    // KERNEL: learn the merges (one corpus pass + vocabulary-bounded
    // rounds, 4-row collect), then count words and pieces per document in
    // one codegen'd projection and aggregate 5 language groups — the
    // earlier vocabulary-join formulation shuffled every (lang, word)
    // coordinate to reconstruct pieces; the kernel pays zero shuffle
    // before the 5-group aggregate. Ratio is the library's e6
    // integer-division convention (engine-exact, no floats).
    "q120_bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val learned = graft.text.Bpe.learnMerges(docs, nMerges = 4)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nw"),
          size(graft.text.Bpe.encode(col("text"), learned)).cast("long").as("np"))
        .groupBy("lang")
        .agg(sum(col("nw")).as("n_words"), sum(col("np")).as("n_pieces_total"))
        .withColumn("fertility_e6",
          expr("n_pieces_total * 1000000 div n_words"))
        .orderBy("lang")
    }),

    // The bpe_encode kernel itself, oracled at full per-document
    // resolution: every document's complete piece sequence (joined with
    // '|') plus its piece count, under a FIXED 8-merge table — the
    // production tokenize shape (a model artifact ships WITH the
    // pipeline; learning it is q91's job, and learned-merge application
    // is already oracled at vocabulary/language resolution by q95/q120).
    // The oracle applies the SAME table relationally merge-by-merge
    // (greedy-runs formulation), so a wrong fuse, a wrong merge order,
    // OR a wrong word order in the kernel shifts some document's string.
    // One corpus pass, zero learning barriers, zero shuffle before the
    // output sort.
    "q186_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          graft.text.Bpe.encode(col("text"), FixedBpeMerges).as("p"))
        .select(col("doc_id"), size(col("p")).as("n_pieces"),
          array_join(col("p"), "|").as("pieces_str"))
        .orderBy("doc_id")
    }),

    // Rolling (Rabin–Karp base-257, wrapping 64-bit) fingerprints of the
    // normalized text and of a 64-char prefix chunk — the composable
    // chunk-fingerprint primitive (RollingHash64.combine stitches chunk
    // hashes without re-reading; composition law pinned in TextAnalysisSpec).
    // Pure per-row projection; the oracle re-folds the identical byte
    // recurrence in DuckDB, so the fingerprint is auditable off-Spark.
    "q56_rolling_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.rollingFingerprint(col("text")).as("fp"),
          TextAnalysis.rollingFingerprint(substring(col("text"), 1, 64)).as("fp_head"))
        .orderBy("doc_id")
    }),

    "q13_dedup_exact" -> ((s, dir) => {
      Dedup.exactDupGroups(Tables.documents(s, dir)).orderBy("fp")
    }),

    // Near-dup pairs: MinHash(128) → 32-band LSH → exact Jaccard >= 3/4.
    // The threshold sits AT the banding's operating point: detection
    // probability for a pair with J=0.75 is 1-(1-0.75^4)^32 ≈ 1-5e-6, so the
    // all-pairs oracle is a sound gate for any corpus, not just this one.
    // 10-char shingles (~2 words): wide enough that unrelated docs from a
    // shared template vocabulary don't sit at J≈0.2-0.3 (5-gram shingles put
    // 68% of ALL pairs there on this corpus, flooding any banding with
    // candidates); true near-dups stay at J≥0.75 either way.
    // Only integer intersection/union sizes in the output.
    "q14_dedup_minhash" -> ((s, dir) => {
      Dedup.jaccardNearDupPairs(Tables.documents(s, dir),
        thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10)
    }),

    // Near-dup FLOW matrix: q14's verified near-dup pairs rolled up to
    // (source_a, source_b) cells — "which sources copy from which", the
    // curation signal that decides whether a source is a mirror, a
    // scraper, or original. Sources normalize to src_a <= src_b; only
    // (id, source) coordinates join the pair list (pairs are tiny next to
    // the corpus, so the lookups broadcast at scale). The oracle rolls up
    // the same definitional all-pairs set.
    "q184_neardup_flow" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.jaccardNearDupPairs(docs,
        thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // SimHash near-dup pairs (Hamming <= 3 via complete SQS(8) 4-chunk
    // banding, 32-bit band keys), with the auditable MD5 token hash so the
    // oracle can recompute every simhash bit-for-bit and re-derive the same
    // pairs by all-pairs Hamming (the banding is exact for Hamming <= 3, so
    // candidate generation loses nothing vs the oracle's exhaustive join).
    "q15_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), auditable = true)
    }),

    // Drop accounting for the q15 banding, value-audited: bucket count,
    // buckets a cap of 3 would skip, and the largest bucket — the numbers
    // an operator sizes `maxBucketSize` with before a corpus-scale run.
    // auditable = true makes every band key md5-derived, so DuckDB
    // re-derives the exact same row (see the q74 oracle).
    "q74_simhash_bucket_stats" -> ((s, dir) => {
      Dedup.simhashBucketStats(Tables.documents(s, dir), maxBucketSize = 3,
        auditable = true)
    }),

    // The same drop accounting for the q14 MinHash-LSH banding — the last
    // banded path whose diagnostics were spec-only. auditable = true swaps
    // the element hash to md5 and the band keys to md5 of a plain
    // "band,v1,..,v4" string, so DuckDB rebuilds the ENTIRE pipeline —
    // md5-64 shingle hashes, the mod-2^64 linear permutations (split
    // multiply in HUGEINT), signed-order minima, and the band-key hash —
    // and re-derives (n_buckets, buckets_dropped, largest_bucket) exactly.
    // k=16/rows=4 keeps the oracle's shingle×function blowup bounded; a
    // cap of 2 actually trips (3 drops at sf0.01, 36 at sf0.1), so the
    // drop arithmetic is exercised, not vacuously zero.
    "q92_lsh_bucket_stats" -> ((s, dir) => {
      Dedup.lshBucketStats(Tables.documents(s, dir), maxBucketSize = 2,
        k = 16, rows = 4, shingleWidth = 10, auditable = true)
    }),

    // THE SQL SURFACE, value-checked end-to-end: one spark.sql statement
    // over the registered kernels (scrub, md5_hash64, quality_score64,
    // char_shingles, auditable simhash64) — the exact text a PySpark or
    // JDBC user would run. ExtensionsSpec pins SQL-vs-DSL equality; this
    // row pins the SQL path's VALUES against DuckDB in the driver gate,
    // so registration, arity builders, and literal handling are all on
    // the hook, not just the kernels underneath.
    "q97_sql_surface" -> ((s, dir) => {
      graft.GraftFunctionRegistry.registerFunctions(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_sql_v")
      s.sql("""
        SELECT doc_id,
          md5_hash64(scrub(text)) AS scrub_fp,
          quality_score64(text) AS q_score,
          size(char_shingles(text, 10)) AS n_shingles,
          simhash64(filter(split(lower(text), '\\s+'), t -> t != ''), true) AS sim
        FROM documents_sql_v ORDER BY doc_id""")
    }),

    // Quality-aware dedup: connected components over the q14 near-dup
    // graph, keeping each component's HIGHEST-quality member (ties →
    // smallest id) instead of the smallest id — the keep-best policy a
    // production pipeline wants from its deduper. Composes q23's
    // components with q85's scorer; the oracle recomputes both and
    // re-derives every (component, kept, score, size) row.
    "q93_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
      val scores = docs.select(col("doc_id").as("id"),
        TextAnalysis.linearQualityScore(col("text")).as("score"))
      Dedup.keepBest(comps, scores).orderBy("component_id")
    }),

    // Cross-source duplication matrix over the q14 pair graph: per
    // unordered source pair, how many near-dup pairs span it — the
    // pre-flight read for per-source dedup policy (intra-source dup on
    // the diagonal, inter-source contamination off it). The oracle folds
    // the same definitional all-pairs derivation by source.
    "q98_cross_source_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossSourceDupMatrix(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10),
        docs).orderBy("source_a", "source_b")
    }),

    // Incremental NEAR-dup ingest: the q61 daily-crawl shape upgraded from
    // exact fingerprints to MinHash-LSH — batch (src11/src12) docs paired
    // against the rest of the corpus via a band-key equi-join, exactly
    // verified. The oracle is the DEFINITIONAL batch×corpus shingle
    // Jaccard, so a row-for-row match proves the banding missed nothing at
    // this threshold.
    "q99_incremental_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBatch = col("source").isin("src11", "src12")
      Dedup.incrementalJaccardNearDup(docs.filter(isBatch), docs.filter(!isBatch),
        thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10)
    }),

    // STREAMING near-dup parity, oracle-checked: the LSH index maintained
    // as flatMapGroupsWithState bucket membership over the document STREAM
    // emits candidate pairs incrementally; the accumulated pairs verify
    // batch-side against the document store. The composition must land on
    // the EXACT pair set of the batch path (q14) — same definitional
    // oracle, so the state-store round trip of the index is value-checked,
    // not just exercised.
    "q102_streaming_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val cands = graft.streaming.StreamingOps.lshCandidateStream(
        Tables.documentsStream(s, dir), rows = 4, shingleWidth = 10)
      val name = graft.streaming.StreamingOps.runToMemory(
        cands.toDF(), "q102_mem", OutputMode.Append())
      Dedup.verifyJaccardCandidates(Tables.documents(s, dir),
        s.table(name).distinct(), thresholdNum = 3, thresholdDen = 4,
        shingleWidth = 10)
        .orderBy("id_a", "id_b")
    }),

    // The SimHash member of the incremental-ingest trio (q61 exact, q99
    // MinHash): batch bands probe the stored corpus banding, exact Hamming
    // verify. SQS(8) completeness makes the oracle definitional with NO
    // recall caveat — every batch×corpus pair at Hamming <= 3 must appear.
    "q108_incremental_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBatch = col("source").isin("src11", "src12")
      Dedup.incrementalSimhashNearDup(docs.filter(isBatch), docs.filter(!isBatch),
        auditable = true)
    }),

    // Frame-level media dedup: cross-document repeated media SEGMENTS (the
    // video/audio analogue of q64's repeated text spans) — every payload
    // frame keyed by a portable content hash inside the per-partition
    // decoder pass, then a plain coordinates-only groupBy. Exact-dup and
    // shared-prefix docs share aligned frames, so repeated segments exist
    // in the corpus, not just planted ones. The hex-string hash recipe is
    // what makes the key engine-portable (see frameHashes scaladoc).
    "q104_frame_dedup" -> ((s, dir) => {
      val payloads = graft.multimodal.Multimodal.withPayload(Tables.documents(s, dir))
      graft.multimodal.Multimodal.frameHashes(s, payloads, frameBytes = 64, stride = 1)
        .toDF()
        .groupBy("fh")
        .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy("fh")
    }),

    // The APPLY half of q72's boilerplate detection: rewrite every doc with
    // shared template lines (trimmed content in >= 3 distinct docs) dropped.
    // The synthetic corpus is single-line bags of words with no shared
    // lines, so the harness plants the template chrome it is supposed to
    // strip — a per-source footer and a global footer appended to every
    // doc (deterministic, mirrored in the oracle, like q90's synthesized
    // timestamps). The original text line survives (its distinct-doc count
    // stays under 3), so clean_text must round-trip it exactly; full
    // cleaned text crosses the oracle boundary, checking detection,
    // removal, AND reassembly value-for-value.
    "q100_boilerplate_removal" -> ((s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("subscribe to "), col("source"), lit(" weekly")),
          lit("(c) corpus collective - all rights reserved")).as("text"))
      graft.text.Cleanup.removeBoilerplateLines(planted, minDocs = 3)
        .orderBy("doc_id")
    }),

    // Embedding near-duplicates: exact half-cartesian with the fused cosine
    // kernel; ids only. (LSH candidate path exists for higher thresholds —
    // at tau=0.45 sign-LSH cannot prune, see Similarity scaladoc.)
    "q16_embed_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), threshold = 0.45)
    }),

    // The LSH mode of the same operator: banded random-hyperplane
    // candidates, exactly verified. Approximate ≠ unverifiable: the
    // hyperplane weights are deterministic literals baked into the plan,
    // so the oracle rebuilds the identical signatures and band-collision
    // predicate in DuckDB and checks the approximate path's exact output —
    // misses and all.
    "q54_lsh_neardup" -> ((s, dir) => {
      // bucketGrid = 8: at 2 bits per band every bucket holds ~n/4 of the
      // corpus (this row sits deliberately below LSH's sound operating
      // point — see the operator scaladoc), so the bucket self-join's
      // C(n_b, 2) enumeration is quadratic AND, ungridded, serialized
      // into one task per (band, bucket). The r17 sf10 sweep measured the
      // ungridded row at 465+ s single-task at 10× data; the grid splits
      // each bucket's pair space across 36 cells.
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), threshold = 0.45,
        lshBits = 16, rowsPerBand = 2, bucketGrid = 8)
    }),

    // EXACT word-3-gram Jaccard near-dup pairs via the lossless prefix +
    // length + aggregated positional/suffix filters (AllPairs/PPJoin) —
    // the guaranteed-complete complement to q14's probabilistic MinHash
    // banding. The oracle is the definitional all-pairs Jaccard in DuckDB;
    // because every filter is lossless the outputs must match row-for-row,
    // which is the whole point. collapseIdentical = false HERE because
    // this corpus is 99.8% unique (8 exact dups in 5000 docs at sf0.1 —
    // see q70), so the identity-collapse plumbing is pure overhead; q76
    // runs the collapsed path of the SAME operator against the SAME
    // oracle, proving the expansion exact where template spam would make
    // it the right default.
    "q59_ngram_jaccard" -> ((s, dir) => {
      // materializeCandidates: one cached corpus gram pass feeds the prefix
      // chain AND both verify branches — measured 2.4 s -> 1.9 s at sf0.1
      // (the second gram build was the single heaviest stage). The cache is
      // hash arrays only, lazy, MEMORY_AND_DISK — the documented bounded
      // trade (see ngramJaccardPairs).
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        thresholdNum = 1, thresholdDen = 2, n = 3,
        materializeCandidates = true, collapseIdentical = false)
    }),

    // The identity-collapse mode of q59's operator: fingerprint-collapse
    // classes first, PPJoin one canonical per class, expand pairs back.
    // Runs on the eight sources that actually contain cross-source exact
    // duplicates (four identity pairs at sf0.1), so the collapse + exact
    // expansion do real work instead of idling on a unique corpus; the
    // oracle is the SAME definitional all-pairs SQL restricted to the
    // same slice — a row-for-row match proves the expansion exact.
    "q76_ngram_jaccard_collapsed" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("source").isin(dupSources: _*)),
        thresholdNum = 1, thresholdDen = 2, n = 3,
        materializeCandidates = true, collapseIdentical = true)
    }),

    // PPJoin candidate-volume accounting (the q59 counterpart of q74's
    // LSH bucket stats): how many prefix rows, hot grams, raw collisions,
    // and survivors of each lossless prune precede verification — the
    // numbers an operator reads before launching a q59-shaped join at
    // corpus scale. DuckDB re-derives every stage (same md5-64 gram
    // hashes, same (df, gram) global order, same integer prefix-length
    // and filter arithmetic), so each count matches exactly.
    "q75_ppjoin_stats" -> ((s, dir) => {
      Dedup.ppjoinCandidateStats(Tables.documents(s, dir),
        thresholdNum = 1, thresholdDen = 2, n = 3)
    }),

    // Per-source salient terms by fixed-point tf·idf: idf is the inverse
    // document-frequency RATIO in millionths (integer division — no log,
    // no floats, so the score is bit-identical in any engine), tf the
    // within-source term count. Top 5 per source under the total order
    // (score desc, term asc). Two token-level aggregations (tf by
    // (source, term), df by term — both vocab-bounded), one vocab-sized
    // join, and a per-source top-k window over the tiny scored table; the
    // corpus itself is scanned once and never shuffled.
    "q60_tfidf_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
      val tf = toks.groupBy("source", "t").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select(col("t"), col("doc_id")).distinct()
        .groupBy("t").agg(count(lit(1)).as("df"))
      val total = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("source")
        .orderBy(col("score").desc, col("t").asc)
      tf.join(dfreq, "t")
        .join(broadcast(total))
        // `div` keeps the quotient in integer arithmetic end to end; the
        // double-division floor it replaces only matched DuckDB's `//`
        // while n·1e6 < 2^53 (~9e9 docs).
        .withColumn("score", col("tf") * expr("n * 1000000L div df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("t").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("source", "rank")
    }),

    // LM-based quality scoring (the CCNet/perplexity-filter pipeline
    // stage, in-domain-trained): a bigram transition model learned from
    // the corpus itself scores each document by its mean observed
    // transition probability — predictable/fluent text scores high, token
    // salad low. All-integer semantics: per-transition score is
    // (1e6·c(w1,w2)) div c(w1·), summed per doc then integer-divided by
    // the doc's bigram count, so the ranking oracles exactly (the q60
    // fixed-point rule). Scale shape: bigram counts and the score join
    // shuffle (w1, w2[, doc_id]) coordinates only — the LM table is
    // corpus-sized (never broadcast), the join is keyed by bigram, and
    // hot-bigram skew on the probe side is AQE's standard case. c(w1·)
    // sums outgoing transitions, so scores are proper conditionals over
    // observed transitions.
    "q103_bigram_lm_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
      val nb = greatest(size(col("ts")) - 1, lit(0))
      // Round-13 adjudication: the two-pass shape below is the FLOOR.
      // The bigram stream feeds two consumers (LM build, per-doc
      // scoring) and every single-derivation mechanism was tried and
      // lost: (a) persist of the exploded stream — r12's measured sf1
      // REGRESSION (cache write + two reads cost more than one tokenize
      // pass); (b) exchange reuse via an explicit repartition or a
      // (doc_id, w1, w2) pre-aggregation — column pruning rewrites the
      // two consumer subtrees differently (one keeps doc_id, one drops
      // it), so their canonicalized plans never match and neither
      // ReuseExchange nor AQE stage reuse can fire (verified:
      // CANON_EQ=false on the duplicated aggregates; the dbi reshape
      // also ADDS an uncombined instance-sized exchange and measured
      // slower). What actually executes is well-shaped: the LM
      // aggregation combines map-side to |distinct bigrams| rows, the
      // scored table broadcasts at runtime when small, and the instance
      // stream itself never crosses an exchange — the duplicated cost is
      // exactly one extra tokenize+explode scan, the price of feeding
      // two aggregations whose plans Catalyst cannot canonically share.
      val bi = toks.select(col("doc_id"),
        explode(zip_with(slice(col("ts"), lit(1), nb), slice(col("ts"), lit(2), nb),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val lm = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val ca = lm.groupBy("w1").agg(sum("cab").as("ca"))
      val scored = lm.join(ca, "w1")
        .select(col("w1"), col("w2"), expr("cab * 1000000L div ca").as("s"))
      val perDoc = bi.join(scored, Seq("w1", "w2"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"), sum("s").as("s_sum"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(expr("s_sum div n_bigrams"), lit(0L)).as("mean_transition_e6"))
        .orderBy("doc_id")
    }),

    // DSIR-style data selection: importance weights for every raw-pool
    // document against the src1 target sample — e6-scaled smoothed
    // unigram likelihood ratios summed per doc, all-integer (see
    // Dsir.unigramImportance for the formula and the 100-TB shape).
    "q112_dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.operators.Dsir
        .unigramImportance(docs, col("source") === "src1")
        .withColumnRenamed("id", "doc_id")
      docs.filter(col("source") =!= "src1").select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("w_sum"), lit(0L)).as("w_sum"),
          coalesce(col("mean_w_e6"), lit(0L)).as("mean_w_e6"))
        .orderBy("doc_id")
    }),

    // Incremental ingest dedup: src11+src12 play the newly-crawled batch,
    // the other 18 sources the accumulated corpus. Surviving = fingerprint
    // unseen in the corpus AND first within the batch. Both sides shrink
    // to fingerprints before the join — the production daily-increment
    // shape (see Dedup.incrementalNewDocs scaladoc).
    "q61_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBatch = col("source").isin("src11", "src12")
      Dedup.incrementalNewDocs(docs.filter(isBatch), docs.filter(!isBatch))
        .orderBy("doc_id")
    }),

    // STREAMING ingest dedup, oracle-checked: q13's exact dedup run
    // through dropDuplicatesWithinWatermark — the continuous form of
    // document ingest, where state holds one (fingerprint, ts) entry per
    // distinct doc inside the watermark horizon and older entries evict.
    // Arrival time is synthesized deterministically from doc_id (1 s
    // apart); the horizon spans the whole corpus here, so the emitted set
    // is EXACTLY the distinct fingerprints — which survivor row carries a
    // given fingerprint is an arrival-order race across partitions, so
    // the query projects the fingerprint alone and the value gate checks
    // the deduped SET, the operator's actual contract.
    "q90_streaming_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documentsStream(s, dir)
        .withColumn("ts", expr("timestamp_micros(1704067200000000 + doc_id * 1000000)"))
      val deduped = graft.streaming.StreamingOps.dedupDocStream(docs, watermark = "30 days")
      val q = graft.streaming.StreamingOps.withStatePartitions(s,
          graft.streaming.StreamingOps.statePartitionsFor(s, dir, "documents"))(
        deduped.select(col("fp")).writeStream.format("memory")
          .queryName("q90_mem").outputMode("append")
          .trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      s.table("q90_mem").orderBy("fp")
    }),

    // ANN baseline: exact top-5 cosine neighbors for the first 10 vectors.
    "q17_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // Hard-negative mining: per anchor, the top-5 most-similar vectors of a
    // DIFFERENT label — the contrastive-training data prep step. Per-anchor
    // label exclusion runs map-side on the broadcast join; the top-k rides
    // the bounded topk_structs aggregate (≤k structs per anchor cross the
    // exchange, no whole-group window sort).
    "q137_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // Contrastive TRIPLET assembly: per anchor, the nearest same-label
    // pseudo-positive joined with its top-2 hard negatives — the
    // (anchor, positive, negative) rows an embedding trainer consumes.
    "q148_contrastive_triplets" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") < 10)
      val pos = Similarity.labelPositives(anchors, emb, k = 1)
        .select(col("query_id"), col("neighbor_id").as("positive_id"))
      val neg = Similarity.hardNegatives(anchors, emb, k = 2)
        .select(col("query_id"), col("rank").as("neg_rank"),
          col("neighbor_id").as("negative_id"))
      pos.join(neg, "query_id").orderBy("query_id", "neg_rank")
    }),

    // ANN evaluation tooling: per-query recall of the IVF path against the
    // exact baseline — the "is my index good enough" diagnostic, composed
    // from the two verified operators. hits/k per query; a left join keeps
    // 0-hit queries visible. The oracle joins the SAME two derivations the
    // q17/q19 oracles use, so all three stay in lockstep.
    "q66_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
        .orderBy("query_id")
    }),

    // The same recall diagnostic for the int8-quantized scoring pass —
    // quantifies exactly what the 4× memory saving costs in ranking
    // fidelity, per query.
    "q69_quantized_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val quant = Similarity.quantizedTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(quant, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
        .orderBy("query_id")
    }),

    // IVF-PQ ANN — the Faiss-style big-corpus layout: coarse inverted
    // file bounds WHICH vectors are looked at, product-quantized codes
    // (m=8 subspaces × 16 codewords → 8 bytes/vector instead of 256)
    // bound WHAT the candidate pass reads, ADC-shortlist then exact
    // re-rank of 32 candidates. Same (query_id, rank, neighbor_id) shape
    // as q17/q19 so the three ANN tiers stay comparable.
    "q121_ann_ivf_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // The PQ tier over TRAINED coarse centroids — q55's deterministic
    // two-iteration Lloyd quality upgrade plugged into ivfPqTopK's
    // centroid seam (the codebooks keep the seeded rule). Proves the
    // quality path composes through the quantized tier; the oracle chains
    // the q55 k-means CTEs into the q121 PQ chain.
    "q127_ann_pq_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        nCentroids = 8, nProbe = 3,
        centroids = Similarity.kmeansCentroids(emb, k = 8, iters = 2))
        .orderBy("query_id", "rank")
    }),

    // The q66 recall diagnostic for the PQ tier: how much ranking
    // fidelity do 8-byte codes cost versus exact brute force — the
    // third column of the ANN quality/efficiency trade-off table
    // (q66 = IVF-only, q69 = int8, q122 = IVF-PQ).
    "q122_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(qs, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
        .orderBy("query_id")
    }),

    // In-engine model TRAINING: the batch perceptron learns the hashed
    // bag-of-words weight table (label: lang == 'en') that q85's scorer
    // seam was built to receive — integer-exact, so the DuckDB oracle
    // re-derives the learned model weight-for-weight by unrolling the
    // three epochs as CTEs. Output: the non-zero rows of the table.
    // Fixture honesty note: the synthetic corpus draws every document's
    // text from one shared pool regardless of the lang column (verified:
    // a multinomial NB gets ~55% TRAIN accuracy on any column-derived
    // label), so the correct learned model here collapses toward the
    // majority rule — which both engines derive identically; the
    // separable-corpus convergence behavior is pinned in
    // PerceptronTrainerSpec where the data actually carries signal.
    "q125_perceptron_weights" -> ((s, dir) => {
      import s.implicits._
      val w = PerceptronTrainer.trainHashedBow(Tables.documents(s, dir),
        col("text"), when(col("lang") === "en", 1L).otherwise(-1L), epochs = 3)
      w.toSeq.zipWithIndex
        .collect { case (wt, b) if wt != 0L => (b.toLong, wt) }
        .toDF("bucket", "weight").orderBy("bucket")
    }),

    // ...and the trained model driving the production scorer: the learned
    // table feeds linearQualityScore's literal-weights seam (one codegen'd
    // pass, nothing shuffles) and the per-source confusion counts against
    // the true labels come out — the train→deploy→audit loop, entirely
    // inside the engine.
    "q126_perceptron_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = PerceptronTrainer.trainHashedBow(docs,
        col("text"), when(col("lang") === "en", 1L).otherwise(-1L), epochs = 3)
      docs.select(col("source"), (col("lang") === "en").as("true_en"),
          (TextAnalysis.linearQualityScore(col("text"), w.toSeq) > 0).as("pred_en"))
        .groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(when(col("true_en"), 1L).otherwise(0L)).as("n_true_en"),
          sum(when(col("pred_en"), 1L).otherwise(0L)).as("n_pred_en"),
          sum(when(col("true_en") === col("pred_en"), 1L).otherwise(0L)).as("n_correct"))
        .orderBy("source")
    }),

    // Column profiling — the ingest pre-flight: row/null/distinct counts,
    // lexicographic min/max, and total length per column, one scan, with
    // the distinct level collapsing duplicates map-side instead of the
    // countDistinct Expand rewrite. Values are normalized to strings by
    // the caller (doubles quantized, dates ISO-cast) so the profile is
    // engine-portable and the oracle restates it verbatim.
    "q124_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(Tables.lineitem(s, dir), Seq(
        "l_linestatus" -> col("l_linestatus"),
        "l_orderkey" -> col("l_orderkey"),
        "l_quantity_e2" -> floor(col("l_quantity") * 100d + 0.5d).cast("long"),
        "l_returnflag" -> col("l_returnflag"),
        "l_shipdate" -> col("l_shipdate").cast("date")))
        .orderBy("col_name")
    }),

    // Sketch-driven JOIN-SIZE ESTIMATION — the query-planning diagnostic:
    // how many distinct order keys would an (urgent orders ⋈ H2-1995
    // lineitems) join touch, WITHOUT running the join. One theta sketch
    // per side (each side scanned once, map-side partials), then the
    // intersection estimate on two kilobyte sketches. lgK=16 keeps both
    // sides in exact mode at verify scale, so the estimate equals the true
    // count and the oracle can check it value-for-value; at larger scale
    // the same plan returns a bounded-error estimate for the cost of two
    // scans and no shuffle of keys.
    "q71_join_size_estimate" -> ((s, dir) => {
      import graft.theta.functions._
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .agg(theta_init_agg(col("o_orderkey"), 16).as("sk_o"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-07-01").cast("date"))
        .agg(theta_init_agg(col("l_orderkey"), 16).as("sk_l"))
      o.join(broadcast(l))
        .select(
          theta_estimate(col("sk_o")).as("n_urgent_orders"),
          theta_estimate(col("sk_l")).as("n_recent_orders"),
          theta_estimate(theta_intersect(col("sk_o"), col("sk_l")))
            .as("est_join_keys"))
    }),

    // C4-style cross-document boilerplate detection: line occurrences
    // whose trimmed content appears in >= 3 DISTINCT documents (nav bars,
    // license footers, templates). Reported per doc as (total lines,
    // boilerplate lines) — the inputs of the classic "drop shared lines"
    // scrub. Lines travel as md5-64 hashes; within-doc repetition is q34's
    // signal, the distinct-doc threshold is what makes a line boilerplate.
    "q72_boilerplate_lines" -> ((s, dir) => {
      val lines = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
        .filter(trim(col("line")) =!= "")
        .select(col("doc_id"),
          graft.operators.Sampling.md5Hash64(trim(col("line"))).as("lh"))
      val hot = lines.groupBy("lh")
        .agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3).select("lh")
      val perDoc = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      val boiler = lines.join(hot, "lh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_boilerplate_lines"))
      perDoc.join(boiler, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_boilerplate_lines"), lit(0L)).as("n_boilerplate_lines"))
        .orderBy("doc_id")
    }),

    // Corpus-health reporting: per-source duplication rate — documents,
    // distinct normalized fingerprints, and the redundant remainder. The
    // "which crawl is dirtiest" table every curation run starts from; one
    // groupBy over (source, fingerprint) pairs, text never shuffles.
    "q70_source_dup_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_distinct"),
          (count(lit(1)) - count_distinct(col("fp"))).as("n_redundant"))
        .orderBy("source")
    }),

    // Multimodal: binary payload -> per-partition stub decode -> typed meta.
    "q18_multimodal_meta" -> ((s, dir) => {
      Multimodal.decodeMeta(s, Multimodal.withPayload(Tables.documents(s, dir)))
        .toDF()
        .orderBy("doc_id")
    }),

    // Multimodal feature extraction: per-partition 16-bin byte histograms,
    // exploded to (doc_id, bin, n) rows so the compare is all scalars.
    "q26_multimodal_features" -> ((s, dir) => {
      Multimodal.extractFeatures(s, Multimodal.withPayload(Tables.documents(s, dir)))
        .toDF()
        .select(col("doc_id"), posexplode(col("hist")).as(Seq("bin", "n")))
        .orderBy("doc_id", "bin")
    }),

    // Resize: aspect-preserving scale into a 64px box with a deterministic
    // nearest-neighbor byte-subsample checksum — all integer arithmetic,
    // so the oracle re-derives geometry and samples from the raw bytes.
    "q47_multimodal_resize" -> ((s, dir) => {
      Multimodal.resizeStub(s, Multimodal.withPayload(Tables.documents(s, dir)), maxDim = 64)
        .toDF()
        .orderBy("doc_id")
    }),

    // Frame sampling: every 3rd 1 KiB frame of each payload — one-to-many
    // typed output carrying only coordinates, never the media bytes.
    "q31_multimodal_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(s, Multimodal.withPayload(Tables.documents(s, dir)),
        frameBytes = 1024, stride = 3)
        .toDF()
        .orderBy("doc_id", "frame_idx")
    }),

    // Symmetric absmax int8 quantization of every embedding, exploded to
    // (vec_id, dim, q) integer rows. Every arithmetic step is IEEE-double
    // exact (widen, divide, floor(x+0.5)), so the oracle recomputes each
    // code bit-for-bit in DuckDB.
    "q32_embed_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(Similarity.quantizeInt8(col("embedding")).getField("q"))
            .as(Seq("dim", "qv")))
        .select(col("vec_id"), col("dim"), col("qv").cast("int").as("q"))
        .orderBy("vec_id", "dim")
    }),

    // Embedding-space release drift per label: quantized-centroid
    // dot/norm integers between the previous release (synthesized as the
    // vec_id % 10 != 0 subset, q119's pattern) and the current one —
    // cosine is scale-invariant, so these three integers ARE the
    // centroid-drift score, engine-exactly. One corpus pass; the shuffle
    // is |labels|x|dims| coordinate sums.
    "q193_embedding_drift" -> ((s, dir) => {
      Similarity.quantizedReleaseDrift(
        Tables.embeddings(s, dir),
        keyCol = col("label"), vecCol = col("embedding"),
        inPrev = col("vec_id") % 10 =!= 0)
        .withColumnRenamed("key", "label")
    }),

    // k-anonymity audit over the customer quasi-identifiers the PII
    // scrub does NOT remove — (nation, market segment, account-balance
    // thousand-bucket): for each release threshold k, how many rows an
    // attacker could link through a public table carrying the same
    // attributes. One QI groupBy, then thresholds fan out as a
    // projection over the group-size table (see Privacy.kAnonymityAudit
    // for the scale contract). All-integer output.
    "q194_k_anonymity" -> ((s, dir) => {
      graft.operators.Privacy.kAnonymityAudit(
        Tables.customer(s, dir),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0d).cast("long").as("ab")),
        ks = Seq(2, 5, 10, 20))
        .orderBy("k")
    }),

    // Annotation quality control: Cohen's kappa between the labeled lang
    // column (the "gold" annotator) and the stopword-evidence language
    // guess (the "model" annotator) — chance-corrected agreement, which
    // raw accuracy overstates on skewed label mixes (and 'zh' here has
    // no stopword list, so the guess can never agree on it — exactly the
    // label-set mismatch kappa is built to price). Integer-exact: the
    // statistic ships as the rational (kappa_num, kappa_den); negative
    // kappa makes in-engine integer division an engine-portability trap
    // (floor vs truncate), so no division happens on either side.
    "q195_label_kappa" -> ((s, dir) => {
      // The guess rides ONE TextStats kernel pass (all four languages'
      // stopword hits at once) instead of languageGuess's four
      // tokenizations; hits bind in their own projection.
      graft.operators.Agreement.cohenKappa(
        Tables.documents(s, dir)
          .select(col("lang"), graft.text.TextAnalysis.textStats(col("text"),
            graft.text.TextAnalysis.languageHitLists).as("st"))
          .select(col("lang"),
            graft.text.TextAnalysis.languageGuessFromHits(
              col("st.stopword_hits")).as("guess")),
        col("lang"), col("guess"))
    }),

    // Micro-batch padding audit at batch size 32: pad-to-corpus-max vs
    // sorted-length bucketed batching, the serving/SFT counterpart of
    // the q40 packing utilization row (packing CONCATENATES into context
    // windows; this pads each sequence to its batch max). The sorted
    // cost derives from the length histogram's cumulative counts alone —
    // row volume never rides a sort (see Packing.paddingAudit).
    "q196_padding_audit" -> ((s, dir) => {
      graft.operators.Packing.paddingAudit(Tables.documents(s, dir),
        graft.text.TextAnalysis.tokenCount(col("text")), batchSize = 32)
        .orderBy("strategy")
    }),

    // Context-length frontier: the exact truncation cost of training at
    // each candidate context length (docs truncated, tokens lost, kept)
    // off ONE length-histogram pass — q196 prices batch padding at a
    // fixed geometry; this picks the geometry.
    "q230_truncation_frontier" -> ((s, dir) => {
      graft.operators.Packing.truncationFrontier(Tables.documents(s, dir),
        graft.text.TextAnalysis.tokenCount(col("text")),
        lengths = Seq(16, 32, 48, 64, 96, 128))
    }),

    // Recency-weighted (half-life) engagement per user: each event is a
    // bit-shifted power-of-two weight by week of age under the corpus
    // horizon — the exponential-decay feature with the float pow
    // replaced by exact integer arithmetic, so the training dump and any
    // serving recomputation agree bit-for-bit. One pass, |users| rows of
    // shuffle (see Features.halfLifeEngagement).
    "q201_halflife_engagement" -> ((s, dir) => {
      graft.operators.Features.halfLifeEngagement(
        Tables.events(s, dir), col("user_id"), col("ts"))
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id")
    }),

    // Hybrid retrieval fusion (the RAG retrieval stage): the lexical
    // term-overlap arm (q155/q159's token relation, bounded top-k) and
    // the semantic ANN arm (q17's exact cosine ranks) fused by
    // reciprocal-rank fusion with exact integer denominators
    // (1e6 div (60 + rank)) — so the oracle re-ranks bit-for-bit from
    // the same two rank derivations. vec_id and doc_id share one id
    // space in the fixtures, the usual doc↔embedding alignment.
    "q202_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val lex = graft.operators.Retrieval.termOverlapTopK(
        docs.filter(col("doc_id") < 10), docs, k = 10)
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      graft.operators.Retrieval.rrfFuse(
        Seq(lex.select(col("query_id"), col("rank"), col("doc_id")), sem),
        kConst = 60, topK = 10)
        .orderBy("query_id", "rank")
    }),

    // Retrieval evaluation (completes the q202 RAG story): MRR@10 and
    // recall@10 of the RRF fusion vs each arm alone, against a
    // same-(lang, source) relevance fixture — the measurement that
    // justifies (or indicts) fusion before traffic shifts to it. Exact
    // integers only: MRR is a unit-fraction sum shipped over
    // lcm(1..10) = 2520, recall is the micro hits/total pair — any
    // engine re-derives both bit-for-bit from the same rank tables.
    "q209_retrieval_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
        kConst = 60, topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      // Judged relevance: same (lang, source) as the query doc — the
      // query side is 10 rows and broadcasts; the fixture stays an
      // eval-set-sized pair table.
      val rel = docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(queries
            .select(col("doc_id").as("query_id"), col("lang"), col("source"))),
          Seq("lang", "source"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.operators.Retrieval.evalAtK(
        Seq("fused" -> fused, "lex" -> lex, "sem" -> sem), rel, k = 10)
    }),

    // Average precision at 10, per (system, query), exact-rational —
    // q209's position-sensitive companion (MRR sees the first hit,
    // recall ignores order; AP prices every hit by precision at its
    // rank). Same arms, same relevance fixture; MAP is the consumer's
    // mean over the shipped rationals.
    "q216_retrieval_ap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
        kConst = 60, topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val rel = docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(queries
            .select(col("doc_id").as("query_id"), col("lang"), col("source"))),
          Seq("lang", "source"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.operators.Retrieval.apAtK(
        Seq("fused" -> fused, "lex" -> lex, "sem" -> sem), rel, k = 10)
    }),

    // Distribution-shift significance (exact randomization KS): did the
    // en token-count DISTRIBUTION move against the rest, not just its
    // mean (q225's question)? KS sees variance/shape changes the mean
    // test is blind to; with integer values and ties the randomization
    // null is the exact test (no asymptotic Kolmogorov CDF floats).
    // 64 engine-exact re-splits; sup-deviations compared as exact
    // cross-multiplied rationals, stat shipped as strings per the
    // FIXTURES.md contract.
    "q241_ks_randomization" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("lang").isNotNull)
      graft.operators.Resample.ksRandomizationTest(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), col("lang") === "en",
        perms = 64, seed = "ks")
    }),

    // Paired system comparison (exact sign test): does RRF fusion beat
    // the lexical arm on MORE QUERIES than chance, or is the observed
    // win rate noise? Per-query AP@10 rationals share their denominator
    // within a query, so the win sign is an integer comparison; the
    // md5-coin randomization null prices the two-sided margin exactly
    // (no binomial-coefficient bignums). The missing significance read
    // behind every "fusion beats each arm" claim (q209/q216).
    "q240_system_sign_test" -> ((s, dir) => {
      graft.operators.Resample.pairedSignTest(apDeltaWide(s, dir),
        col("query_id"),
        when(col("a") > col("b"), 1L).when(col("a") < col("b"), -1L)
          .otherwise(0L),
        perms = 200, seed = "st")
    }),

    // Magnitude-aware paired comparison over the SAME arms (the
    // permutation paired-t analog): q240 prices only the DIRECTION of
    // each query's fused-vs-lex outcome; here the per-query AP@10
    // delta rationals (ap_num_fused − ap_num_lex over the query's
    // shared ap_den) carry their SIZE into the randomization null, so
    // a few large losses correctly cancel many small wins. Quantized
    // at the operator's definitional 10⁻⁶ metric resolution.
    "q244_paired_delta_test" -> ((s, dir) => {
      graft.operators.Resample.pairedDeltaTest(apDeltaWide(s, dir),
        col("query_id"), col("a") - col("b"), col("dd"),
        perms = 200, seed = "dt")
    }),

    // The middle member of the paired triple (q240 direction, q244 raw
    // magnitude): Wilcoxon signed-rank over the SAME AP@10 delta
    // rationals — magnitude through exact doubled average ranks, so a
    // consistent small shift registers while a single huge reversal
    // cannot dominate. Ranks are sign-invariant, so the rank window
    // runs once over |queries| rows before the replicate expansion.
    "q246_wilcoxon_signed_rank" -> ((s, dir) => {
      graft.operators.Resample.wilcoxonSignedRank(apDeltaWide(s, dir),
        col("query_id"), col("a") - col("b"), col("dd"),
        perms = 200, seed = "wx")
    }),

    // Graded-relevance ranking metric (ERR@10, Chapelle 2009) — the
    // grade-AND-position-sensitive eval over the same arms: grade 2 =
    // same (lang, source) as the query doc, grade 1 = same lang only.
    // The cascade user stops at a grade-g document with probability
    // (2^g − 1)/4; the whole statistic ships as one integer rational
    // per (system, query) over lcm(1..10)·4^10, and the oracle
    // re-derives it bit-for-bit through a bounded recursive fold.
    "q217_retrieval_err" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
        kConst = 60, topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val rel = docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(queries.select(col("doc_id").as("query_id"),
            col("lang"), col("source").as("q_source"))),
          Seq("lang"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          when(col("source") === col("q_source"), lit(2))
            .otherwise(lit(1)).as("grade"))
      graft.operators.Retrieval.errAtK(
        Seq("fused" -> fused, "lex" -> lex, "sem" -> sem), rel,
        k = 10, gMax = 2)
    }),

    // nDCG@10 over the same arms and graded fixture — the normalized
    // graded read ERR's cascade can't give (ERR saturates after one
    // high-grade hit; nDCG credits the whole ranked list against the
    // per-query ideal). Exponential gain 2^g−1, reciprocal discount
    // with lcm(1..10)-cleared denominators (log2(r+1) is irrational —
    // no exact integer form), IDCG per query off the bounded top-k
    // aggregate; nDCG = dcg_num/idcg_num, both BIGINT.
    "q239_retrieval_ndcg" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
        kConst = 60, topK = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val rel = docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(queries.select(col("doc_id").as("query_id"),
            col("lang"), col("source").as("q_source"))),
          Seq("lang"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          when(col("source") === col("q_source"), lit(2))
            .otherwise(lit(1)).as("grade"))
      graft.operators.Retrieval.ndcgAtK(
        Seq("fused" -> fused, "lex" -> lex, "sem" -> sem), rel,
        k = 10, gMax = 2)
    }),

    // Readability audit per source (difficulty-curriculum feature): word /
    // vowel-group-syllable / sentence counts from the one-pass
    // ReadabilityStats kernel; the Flesch–Kincaid grade has rational
    // coefficients (0.39, 11.8, 15.59), so both the per-source grade and
    // the per-doc "grade > 12" flag ship as exact integer arithmetic —
    // fk_num/fk_den = (39W² + 1180YT − 1559WT)/(100WT) over source
    // totals. Row volume dies in the per-source aggregation.
    "q218_readability" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val per = docs
        .select(col("source"),
          TextAnalysis.readabilityStats(col("text")).as("rs"))
        .select(col("source"),
          col("rs.n_words").cast("long").as("w"),
          col("rs.n_syllables").cast("long").as("y"),
          col("rs.n_sentences").cast("long").as("t"))
        .select(col("source"), col("w"), col("y"), col("t"),
          (col("w") > 0 &&
            lit(39L) * col("w") * col("w") + lit(1180L) * col("y") * col("t") >
              lit(2759L) * col("w") * col("t")).cast("long").as("hard"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("y")).as("n_syllables"), sum(col("t")).as("n_sentences"),
          sum(col("hard")).as("hard_docs"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_syllables"), col("n_sentences"),
          when(col("n_words") > 0,
            lit(39L) * col("n_words") * col("n_words") +
              lit(1180L) * col("n_syllables") * col("n_sentences") -
              lit(1559L) * col("n_words") * col("n_sentences")).as("fk_num"),
          when(col("n_words") > 0,
            lit(100L) * col("n_words") * col("n_sentences")).as("fk_den"),
          col("hard_docs"))
        .orderBy(col("source"))
    }),

    // Scorer calibration audit (reliability diagram + exact ECE): is the
    // English-stopword-ratio confidence CALIBRATED against lang='en' —
    // i.e. do docs with conf ≈ 0.7 turn out English ≈ 70% of the time?
    // q207 prices the same scorer's RANKING; this prices its VALUE,
    // the property auto-labeling and confidence-weighted sampling
    // actually rely on. One TextStats pass, row volume dies in the
    // 10-bin aggregation; ECE ships as total.dev_e6/(1e6·total.n_docs).
    "q219_calibration" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang"),
          TextAnalysis.textStats(col("text")).as("st"))
        .select(col("lang"),
          col("st.n_tokens").as("n_tokens"),
          col("st.stopword_hits").getItem(0).as("hits"))
        .filter(col("n_tokens") > 0)
      graft.operators.Eval.calibrationAudit(base,
        expr("1000000L * hits div n_tokens"), col("lang") === "en")
    }),

    // Categorical independence audit (Pearson chi-square, exact): is
    // lang distributed the same way within every source, or does the
    // corpus confound them? Each cell's (O−E)²/E ships as the integer
    // rational (N·O−R·C)²/(N·R·C) in DECIMAL(38,0) — zero-observed
    // margin-cross cells included, as the statistic requires. χ² and
    // Cramér's V are the consumer's fold over the shipped rationals.
    "q220_chi_square" -> ((s, dir) => {
      graft.operators.Balance.chiSquareIndependence(
        Tables.documents(s, dir), col("source"), col("lang"))
    }),

    // Paired-rule disagreement (McNemar, exact): do the char-length and
    // token-count keep rules survive the SAME documents, or do equal
    // keep rates hide disjoint survivors? Only the disagreement cells
    // b/c enter the statistic (b−c)²/(b+c). One counting pass; the
    // token side rides the TokenCount byte-loop kernel.
    "q221_mcnemar" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      graft.operators.Eval.mcnemar(docs,
        col("n_chars") >= 300,
        TextAnalysis.tokenCount(col("text")) >= 55)
    }),

    // Rank agreement between the retrieval arms (Kendall tau, exact):
    // over the docs BOTH arms put in their top 10, do lexical and
    // semantic order agree? tau ≈ 1 means the arms are redundant and
    // fusion adds nothing; the inversion counts ship as integers.
    "q222_arm_agreement" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      graft.operators.Retrieval.kendallTau(lex, sem, k = 10)
    }),

    // Rank-biased overlap between the retrieval arms (p = 9/10, k = 10,
    // exact rational): the top-weighted agreement read q222's tau can't
    // give — tau sees only SHARED docs and weighs inversions equally;
    // RBO prices disagreement by depth and charges for docs one arm
    // missed. Per shared doc the X_d-sum telescopes to one weight at
    // max(rank_a, rank_b), so the statistic is a weighted count over
    // the ≤k-row per-query arm join.
    "q229_rbo_arms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = docs.filter(col("doc_id") < 10)
      val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      graft.operators.Retrieval.rbo(lex, sem, k = 10)
    }),

    // Release mix shift (total variation, exact): did the lang mix move
    // between q119's synthesized previous release and the current one?
    // Per-key deviations (the drift's WHERE) plus the total row; TV =
    // total.dev / (2·P·C), bounded [0,1] — the release-gate number.
    "q223_mix_shift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Balance.mixShift(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 19 =!= 0),
        col("lang"))
    }),

    // K-sample rank test (Kruskal-Wallis pieces, exact): do the sources
    // draw document length from one distribution? Doubled midranks from
    // the score histogram (the q207 pattern — no per-row window); the
    // consumer folds H from the shipped per-source integers.
    "q224_kruskal_wallis" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      graft.operators.Eval.kruskalWallis(docs,
        TextAnalysis.tokenCount(col("text")), col("source"))
    }),

    // Exact ROC-AUC of a heuristic scorer (rank-sum/Mann-Whitney with
    // midrank ties, from the score HISTOGRAM — no per-row window): how
    // well do English-stopword hit counts separate lang='en' documents?
    // The scorer-trust audit a curation pipeline runs before gating on
    // a signal; doubled integers keep tie midranks exact.
    "q207_scorer_auc" -> ((s, dir) => {
      graft.operators.Eval.rankAuc(Tables.documents(s, dir),
        TextAnalysis.tokenHits(col("text"), graft.text.Stopwords.English),
        col("lang") === "en")
    }),

    // Selection-rate disparity: after the n_chars >= 300 keep rule,
    // which source is kept most/least and the EXACT rate gap — the
    // curation-bias audit (a filter that drops one source twice as
    // often is a composition decision someone should see). Ordering by
    // e6-truncated rate with key tiebreaks; the gap itself is the exact
    // cross-multiplied rational.
    "q208_keep_disparity" -> ((s, dir) => {
      graft.operators.Eval.keepRateDisparity(Tables.documents(s, dir),
        col("source"), col("n_chars") >= 300)
    }),

    // Dimension-truncation (Matryoshka) audit: per query, Spearman's rho
    // between the full-64-dim cosine ranking and the first-16-dims
    // ranking, as an exact integer rational over the rank displacements —
    // the "can we serve truncated embeddings?" eval. Only RANKS enter
    // the statistic, so engines agree however they round the cosines.
    "q205_matryoshka_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.truncationRankAudit(emb.filter(col("vec_id") < 10), emb,
        dims = 16)
        .orderBy("query_id")
    }),

    // Corpus-balance Gini over per-source token mass, exact rational —
    // the one-number mix-skew audit (0 = even, →1 = one source holds
    // everything). Row volume dies in the per-source aggregation.
    "q206_source_gini" -> ((s, dir) => {
      graft.operators.Balance.gini(Tables.documents(s, dir),
        col("source"), graft.text.TextAnalysis.tokenCount(col("text")))
    }),

    // Multi-rater label agreement (Fleiss' kappa, integer-exact): do
    // three independent quality heuristics — n_chars band, token-count
    // band, distinct-token band, each cut at fixture terciles — agree on
    // per-document quality beyond chance? The ≥3-rater generalization of
    // q195's Cohen; the kappa ships as an exact rational and the
    // constant-raters precondition is verified in-result (r_min/r_max),
    // never assumed. Fixture lands at κ ≈ 0.80 — substantial agreement
    // with real disagreement mass, so the arithmetic is exercised.
    "q203_fleiss_kappa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def band(c: org.apache.spark.sql.Column, lo: Int,
          hi: Int): org.apache.spark.sql.Column =
        when(c < lo, 0).when(c < hi, 1).otherwise(2)
      // One scan, one KERNEL tokenize: n_tokens and n_distinct_tokens
      // come out of the single-pass TextStats kernel (no token array,
      // no array_distinct rescue pass), and the three bands fold into
      // an in-row array bound below the explode — q64-cliff rule — so
      // the long format costs one corpus pass, not one per rater.
      // NOT fanned out past the single-split scan: the q59 guard was
      // A/B'd here and measured a pure loss (1.21 -> 1.63 s at sf1) —
      // the kernel pass is cheaper than the planted text shuffle.
      val base = docs.select(col("doc_id"), col("n_chars"),
        TextAnalysis.textStats(col("text"), Seq.empty).as("st"))
      val ratings = base.select(col("doc_id"), array(
          band(col("n_chars"), 220, 380),
          band(col("st.n_tokens"), 40, 69),
          band(col("st.n_distinct_tokens"), 23, 28)).as("bands"))
        .select(col("doc_id"), explode(col("bands")).as("lb"))
      graft.operators.Agreement.fleissKappa(ratings, col("doc_id"), col("lb"))
    }),

    // Krippendorff's alpha (nominal): the agreement statistic for the
    // regime Fleiss REJECTS — raters that abstain. Same three quality
    // heuristics as q203, but the distinct-token rater abstains on every
    // third document (m varies 2..3), and the per-unit denominators
    // m−1 clear exactly through lcm(1..maxRaters−1) = 2, so alpha ships
    // as one exact integer rational.
    "q210_krippendorff_alpha" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def band(c: org.apache.spark.sql.Column, lo: Int,
          hi: Int): org.apache.spark.sql.Column =
        when(c < lo, 0).when(c < hi, 1).otherwise(2)
      val base = docs.select(col("doc_id"), col("n_chars"),
        TextAnalysis.textStats(col("text"), Seq.empty).as("st"))
      val ratings = base.select(col("doc_id"), array(
          band(col("n_chars"), 220, 380),
          band(col("st.n_tokens"), 40, 69),
          band(col("st.n_distinct_tokens"), 23, 28)).as("bands"))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("pos", "lb")))
        .filter(not(col("pos") === 2 && col("doc_id") % 3 === 0))
      graft.operators.Agreement.krippendorffAlpha(ratings,
        col("doc_id"), col("lb"), maxRaters = 3)
    }),

    // Vocabulary richness / unseen mass: Chao1's total-vocabulary
    // estimate and Good–Turing's P(next token is a new type), both from
    // the frequency-of-frequencies head, both exact integer rationals —
    // the "will more crawl buy more vocabulary?" read. The exchange
    // carries vocabulary coordinates (map-side combine), never corpus
    // tokens.
    "q211_chao1_vocabulary" -> ((s, dir) => {
      graft.operators.Richness.chao1Vocabulary(Tables.documents(s, dir))
    }),

    // Collocation mining: global top-25 adjacent bigrams by exact
    // integer lift (identical ordering to PMI), minCount = 5 to drop
    // the degenerate hapax pairs — the phrase-vocabulary read. The
    // oracle re-ranks from the same counts with the same truncated key
    // and tiebreaks.
    "q212_pmi_collocations" -> ((s, dir) => {
      graft.operators.Collocations.pmiTopK(Tables.documents(s, dir),
        k = 25, minCount = 5)
    }),

    // LSH operating-point calibration: for every auditable-banding
    // bucket-collision pair (q92's k=16/rows=4/width-10 parameters),
    // the MinHash agreement estimate (sig_matches of 16) next to the
    // exact shingle Jaccard (inter, uni) — false-positive candidates
    // included, they are what the calibration is FOR. The oracle
    // re-derives signatures, buckets, pairs, matches, and exact Jaccard
    // from the same md5 recipes.
    "q213_lsh_calibration" -> ((s, dir) => {
      Dedup.lshCalibrationAudit(Tables.documents(s, dir))
    }),

    // Dedup ROI in one row: what keep-min-id-per-cluster actually buys —
    // clusters, removed docs, removed TOKENS (the unit compute is billed
    // in). Σ over the q23 components joined with kernel token counts;
    // beyond the q23 pipeline, the cost is a |clustered docs| coordinate
    // join.
    "q214_dedup_roi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
      val toks = docs.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
      comps.join(toks, "id")
        .groupBy(col("component_id"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("tw"),
          min(struct(col("id"), col("w"))).as("kp"))
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(sum(col("n")), lit(0L)).as("docs_clustered"),
          coalesce(sum(col("n") - 1L), lit(0L)).as("docs_removed"),
          coalesce(sum(col("tw")), lit(0L)).as("tokens_clustered"),
          coalesce(sum(col("tw") - col("kp.w")), lit(0L)).as("tokens_removed"))
    }),

    // The same ROI resolved by CLUSTER SIZE — where the duplicate mass
    // sits (a corpus whose removals all come from 2-clusters dedups very
    // differently from one with a few hundred-member template families).
    "q215_dedup_roi_by_size" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
      val toks = docs.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
      comps.join(toks, "id")
        .groupBy(col("component_id"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("tw"),
          min(struct(col("id"), col("w"))).as("kp"))
        .groupBy(col("n").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("tw")).as("tokens_total"),
          sum(col("tw") - col("kp.w")).as("tokens_removed"))
        .orderBy("cluster_size")
    }),

    // Randomization test (exact, md5-coin): is the English documents'
    // token-count mean REALLY different from the rest, or within what a
    // fair re-split of the same corpus produces? 200 engine-exact
    // pseudo-splits; the p-value ships as the add-one rational
    // (n_exceed+1)/201. The corpus is scanned once — the 200-fold
    // expansion collapses under the partial aggregate, so 200 summary
    // rows per task cross the exchange.
    "q225_randomization_test" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("lang").isNotNull)
      graft.operators.Resample.randomizationTest(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), col("lang") === "en",
        perms = 200, seed = "rt")
    }),

    // FDR-controlled drift sweep (Benjamini–Hochberg over exact
    // randomization p-values): which SOURCES' token-count means moved
    // away from the corpus, with the false-discovery rate held at 1/20
    // instead of |sources| uncorrected tests inflating hits? The null
    // respects each source's observed share via the Sampling threshold
    // rule, computed in-plan; BH runs over |sources| rows.
    "q226_fdr_drift_sweep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
      graft.operators.Resample.fdrDriftSweep(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), col("source"),
        perms = 64, seed = "fdr", fdrNum = 1, fdrDen = 20)
    }),

    // Poisson-bootstrap 95% CI for the corpus mean token count: 200
    // hash-derived pseudo-replicates in ONE corpus scan (the 200-fold
    // expansion collapses under the partial aggregate), CI bounds read
    // off the 5th/196th order statistics of the replicate means — each
    // shipped as its exact integer (num, den) pair. The error bar every
    // "mean tokens moved by +2.3" report needs next to the point
    // estimate.
    "q227_bootstrap_ci" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      graft.operators.Resample.bootstrapMeanCI(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), reps = 200, seed = "bs",
        tailDen = 40)
    }),

    // Dedup ROI WITH UNCERTAINTY: the q214 token-removal rate as a
    // cluster-bootstrap 95% CI — "dedup removes X% of tokens, ±" is the
    // release-planning number; resampling units are the components
    // themselves (singletons included at zero removal), so duplicated
    // mass carries its real variance.
    "q238_dedup_roi_ci" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
        .select(col("id").as("cid"), col("component_id"))
      val toks = docs.select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
      val units = toks
        .join(comps, toks("id") === comps("cid"), "left")
        .select(coalesce(col("component_id").cast("string"),
          col("id").cast("string")).as("u"), col("id"), col("w"))
        .groupBy(col("u"))
        .agg(sum(col("w")).as("d"),
          (sum(col("w")) - min(struct(col("id"), col("w")))
            .getField("w")).as("m"))
      graft.operators.Resample.unitBootstrapRatioCI(units, col("u"),
        col("d"), col("m"), reps = 200, seed = "roi", tailDen = 40)
    }),

    // Near-dup component SOURCE SPAN: does duplicate mass cross sources
    // (syndicated/template content — dedup globally) or stay within one
    // (crawl dups — dedup per source)? Histogram of components by the
    // distinct sources they touch; the q23 pair graph + components,
    // then |component|-row folds.
    "q237_component_span" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
      comps.join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .groupBy(col("component_id"))
        .agg(count(lit(1)).as("n"), count_distinct(col("source")).as("span"))
        .groupBy(col("span").as("n_sources_span"))
        .agg(count(lit(1)).as("n_components"), sum(col("n")).as("n_docs"))
        .orderBy(col("n_sources_span"))
    }),

    // Encoding-damage audit per source: U+FFFD replacement chars, stray
    // C0 controls, UTF-8-as-Latin-1 mojibake digraphs — the ingest
    // hygiene gate run BEFORE tokenization (every token statistic
    // silently absorbs this damage). Zero rows are the certification.
    "q236_encoding_audit" -> ((s, dir) => {
      graft.text.Cleanup.encodingAudit(Tables.documents(s, dir),
        col("source"), col("text"))
    }),

    // Per-source label-vs-guess language confusion: which SOURCES ship
    // documents whose declared lang the stopword guesser contradicts —
    // the mislabeled-data curation signal (a source with 30% confusion
    // needs its labeler fixed, not its docs dropped). One textStats
    // kernel pass (all four stopword lists in one tokenize — the q83
    // fusion); the confusion matrix is |sources|·|langs|² coordinates.
    "q235_lang_confusion" -> ((s, dir) => {
      val hits = TextAnalysis.textStats(col("text"),
        graft.text.Stopwords.ByLanguage.map(_._2)).getField("stopword_hits")
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("source").isNotNull)
        .select(col("source"), col("lang").as("labeled"), hits.as("hits"))
        .select(col("source"), col("labeled"),
          TextAnalysis.languageGuessFromHits(col("hits")).as("guessed"))
        .groupBy(col("source"), col("labeled"), col("guessed"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("labeled"), col("guessed"))
    }),

    // Dedup threshold-sensitivity frontier: pairs/docs qualifying at
    // each candidate Jaccard threshold, from ONE pair-graph build at
    // the loosest point (3/4 = the q14 family's graph) —
    // every tighter threshold is a post-hoc integer filter on the
    // verified (inter, uni) evidence.
    "q234_threshold_frontier" -> ((s, dir) => {
      Dedup.thresholdFrontier(Tables.documents(s, dir),
        thresholds = Seq((3, 4), (4, 5), (9, 10), (19, 20), (1, 1)),
        rows = 4, shingleWidth = 10)
    }),

    // Paired-bootstrap CI on the MEAN SHIFT between q223's synthesized
    // releases: the effect size with an interval — shared rows carry
    // the same replicate weight on both sides, so overlap noise cancels
    // (the paired-test analogue). Point diff and bounds ship as exact
    // cross-multiplied rationals.
    "q233_release_diff_ci" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      graft.operators.Resample.bootstrapMeanDiffCI(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")),
        col("doc_id") % 17 =!= 0, col("doc_id") % 19 =!= 0,
        reps = 200, seed = "rd", tailDen = 40)
    }),

    // Quadratic-weighted kappa over ordinal quality TIERS (0..4 by
    // token count vs by char length): the graded-scale agreement read
    // nominal kappa (q195) misprices — near-miss tiers must cost
    // (i-j)^2, not 1. Exact rational over W = sum (i-j)^2 r_i c_j.
    "q232_weighted_kappa" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      graft.operators.Agreement.weightedKappa(docs,
        least(lit(4L), shiftright(TextAnalysis.tokenCount(col("text"))
          .cast("long"), 4).cast("long")),
        least(lit(4L), shiftright(length(col("text")).cast("long"), 7)
          .cast("long")))
    }),

    // Per-source bootstrap CIs in ONE corpus scan: the error bar next
    // to every per-source mean in a drift report (q226 says WHICH
    // sources moved; this says how wide each source's mean is). Same
    // row-keyed Poisson weights — grouped CIs refine the global CI's
    // randomness, not redraw it.
    "q231_group_bootstrap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
      graft.operators.Resample.groupedBootstrapMeanCI(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), col("source"), reps = 200,
        seed = "bs", tailDen = 40)
    }),

    // The same CI with the RESAMPLING UNIT lifted to near-dup clusters
    // (cluster bootstrap): duplicated documents are not independent
    // draws, and resampling components instead of rows is the honest
    // error bar on a corpus the dedup pipeline itself says is
    // correlated. Built on the q23 pair graph + components.
    "q228_cluster_bootstrap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val comps = Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
      graft.operators.Resample.clusterBootstrapMeanCI(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), comps, reps = 200,
        seed = "cb", tailDen = 40)
    }),

    // Shared-prefix (KV/prompt-cache) audit: per prefix depth K, how
    // many documents share their EXACT first K tokens and how many
    // tokens a warm prefix cache would re-serve ((size−1)·K per group) —
    // the capacity-planning read for serving fleets. One tokenize pass,
    // 16-byte md5 prefix keys in the shuffle; the oracle groups by the
    // raw prefix lists and must land on identical counts.
    "q204_prefix_cache_audit" -> ((s, dir) => {
      graft.operators.Serving.prefixCacheAudit(
        Tables.documents(s, dir), depths = Seq(2, 4, 8, 16, 32))
        .orderBy("prefix_tokens")
    }),

    // Weight-balanced shard planning: each source's documents assigned to
    // 4 preprocessing shards by LPT (heaviest first, least-loaded shard,
    // deterministic ties) — token loads equalize where q79's hash
    // sharding only equalizes counts. The oracle replays the exact greedy
    // walk with a recursive CTE (deterministic total order on both the
    // document sort and the shard argmin is what makes that possible).
    "q200_lpt_shards" -> ((s, dir) => {
      graft.operators.Packing.lptShards(
        Tables.documents(s, dir),
        col("source"), col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")), nShards = 4)
        .groupBy(col("part"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("load_tokens"))
        .select(col("part").as("source"), col("shard"), col("n_docs"),
          col("load_tokens"))
        .orderBy("source", "shard")
    }),

    // Robust per-source length-outlier flags: median/MAD of n_chars at
    // k = 3 raw MADs — the degenerate-document alarm a mean/stddev
    // threshold misses exactly when it matters (the outlier drags the
    // mean past itself). Two chained exact-quantile passes + a counting
    // pass, integer-exact (see ExactQuantile.madOutliers).
    "q198_mad_outliers" -> ((s, dir) => {
      graft.operators.ExactQuantile.madOutliers(
        Tables.documents(s, dir), col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")
        .orderBy("source")
    }),

    // Quantized ANN: top-5 by integer int8 dot (4x smaller scoring pass).
    // Integer scores + id tie-breaks make the approximate ranking exactly
    // reproducible, so it oracles value-for-value like the float paths.
    "q33_quantized_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.quantizedTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // IVF ANN: 16 deterministic coarse cells, probe the 4 nearest per query,
    // exact re-rank inside probed cells. Same query set as q17 so the two
    // results document the exact-vs-IVF trade directly.
    "q19_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // FILTERED ANN: the q19 index untouched, a metadata predicate
    // (label = 3, ~10% selectivity) applied at query time — post-filter
    // as a left-semi join of slim (id) rows inside the re-rank, so rank
    // 1..k is dense within the filtered set. The oracle is the same IVF
    // re-derivation with the identical restriction; recall-vs-nProbe
    // consequences of selective filters are the operator's documented
    // trade (see ivfTopK's scaladoc).
    "q96_filtered_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        candidateFilter = col("label") === 3)
        .orderBy("query_id", "rank")
    }),

    // IVF with the k-means centroid plug-in: the production-quality index
    // through ivfTopK's `centroids` seam. kmeansCentroids is deterministic
    // end-to-end (md5-seeded init, exact decimal dimension means, fixed
    // tie-breaks), so even this two-stage approximate index oracles
    // value-for-value — DuckDB re-derives the same seeds, the same two
    // Lloyd iterations, and the same probe-and-rerank.
    "q55_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        nProbe = 3, centroids = Similarity.kmeansCentroids(emb, k = 8, iters = 2))
        .orderBy("query_id", "rank")
    }),

    // SemDeDup-style semantic dedup: the q55 k-means cells (re-derived
    // bit-for-bit by the oracle), then a within-cell min-id dominance
    // prune — drop a vector iff a smaller id in its cell scores cosine
    // >= threshold against it. One row per vector (id, cid, keep): the
    // keep-list a training pipeline semi-joins against before tokenizing.
    "q84_semantic_dedup" -> ((s, dir) => {
      // grid = 8: with k = 8 cells the within-cell pair join has at most
      // 8 distinct keys — 8-task parallelism for Σ|cell|² cosine work
      // regardless of cluster size. The grid spreads each cell across 36
      // sub-cells (volume itself is k's knob — q86 is the pre-flight).
      Similarity.semanticDedup(Tables.embeddings(s, dir),
        threshold = 0.45, k = 8, iters = 2, grid = 8)
        .orderBy("id")
    }),

    // q84's pre-flight diagnostic (the q74/q75 pattern for the semantic
    // path): cell count, occupancy, and the exact within-cell cosine
    // volume Σ|cell|·(|cell|−1)/2 a semantic-dedup run would pay — read
    // BEFORE launching q84-shaped jobs to size k. Same clustering, so the
    // oracle re-derives it from the same CTEs.
    "q86_semantic_cell_stats" -> ((s, dir) => {
      Similarity.semanticCellStats(Tables.embeddings(s, dir), k = 8, iters = 2)
    }),

    // Token-budget corpus selection: admit docs in md5(seed:id) order
    // until 16k cumulative tokens — a reproducible "uniform ~B-token
    // slice" whose membership any engine re-derives (and which EXTENDS,
    // never reshuffles, when the budget grows). The global prefix sum is
    // the two-phase bucket scheme (no global sort, no driver round-trip);
    // the oracle computes the same cumulative sum definitionally.
    "q87_token_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("w"))
      graft.operators.Sampling.tokenBudgetSample(docs, col("doc_id"), col("w"),
        budget = 16000L, seed = 11L)
        .select(col("id").as("doc_id"), col("weight").as("n_tokens"),
          col("cum_before"))
        .orderBy("doc_id")
    }),

    // Stratified (per-source) token budgets — q87's operator keyed by
    // source, the per-domain half of mix assembly. The spec spans all
    // regimes: src1/src2 bite at both SFs, src3's 2000 tokens exceed a
    // source's sf0.01 volume (no-bite edge: the whole source admits),
    // src5's zero budget admits nothing, and the 16 unlisted sources drop
    // wholesale (a budget spec is a whitelist).
    "q88_token_budget_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("w"))
      graft.operators.Sampling.tokenBudgetSampleByKey(docs, col("source"),
          col("doc_id"), col("w"),
          budgets = Seq("src1" -> 800L, "src2" -> 500L,
            "src3" -> 2000L, "src5" -> 0L),
          seed = 11L)
        .select(col("key").as("source"), col("id").as("doc_id"),
          col("weight").as("n_tokens"), col("cum_before"))
        .orderBy("source", "doc_id")
    }),

    // Temperature-balanced budget allocation (the multilingual /
    // multi-source sampling standard: sample source k proportionally to
    // n_k^alpha, alpha < 1, so small sources are up-weighted): per-source
    // token totals, EXACT integer sqrt weights (alpha = 1/2 — the one
    // temperature with an engine-identical integer weight; float pow
    // would make every budget engine-dependent), largest-remainder split
    // of the total budget. Sum of budgets == 20000 exactly; DuckDB
    // re-derives the isqrt correction, the q·w + floor(rem·w/W) split,
    // and the remainder ranking value-for-value.
    "q182_temperature_budgets" -> ((s, dir) => {
      graft.operators.Sampling.temperatureBudgets(
        Tables.documents(s, dir)
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("w")),
        col("source"), col("w"), totalBudget = 20000L)
        .select(col("key").as("source"), col("n"), col("w"), col("budget"))
        .orderBy("source")
    }),

    // The composed selection: q182's data-derived budgets feeding q88's
    // deterministic admit-in-md5-order rule — temperature mixing as one
    // operator call. The oracle chains both derivations, so a wrong
    // weight, a wrong remainder unit, OR a wrong admit order anywhere
    // shifts the admitted set.
    "q183_temperature_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("w"))
      graft.operators.Sampling.temperatureMix(docs, col("source"),
          col("doc_id"), col("w"), totalBudget = 20000L, seed = 13L)
        .select(col("key").as("source"), col("id").as("doc_id"),
          col("weight").as("n_tokens"), col("cum_before"))
        .orderBy("source", "doc_id")
    }),

    // NO-SPLIT packing utilization: greedy whole-document bins per source
    // at a 2048-token budget (the SFT/long-context packing mode — concat-
    // then-chunk's q39 sibling that must not truncate documents), audited
    // as the numbers a training team reads before accepting a budget:
    // bins, padded tokens, utilization. The greedy fold is sequential per
    // stream, so the oracle re-derives it with a RECURSIVE CTE walking
    // the same (md5 hex, id) order — bin boundaries, padding, and the e6
    // utilization all integer-exact.
    "q185_pack_nosplit_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("w"))
      graft.operators.Packing.packAudit(
        graft.operators.Packing.packNoSplit(docs, col("source"),
          col("doc_id"), col("w"), budget = 2048L), budget = 2048L)
        .select(col("part").as("source"), col("n_bins"), col("n_docs"),
          col("total_tokens"), col("padded_tokens"), col("utilization_e6"))
        .orderBy("source")
    }),

    // The end-to-end sequence-prep composition: tokenize every document
    // with the SHIPPED tokenizer (the q186 bpe_encode kernel + fixed
    // merge table — pieces, not whitespace tokens, are what sequence
    // budgets count) and no-split-pack the piece counts per source at a
    // 2048-piece budget. This is the pipeline step a training run
    // actually executes before writing shards; chaining the two kernels
    // means a wrong piece count ANYWHERE shifts some bin boundary and
    // the audit numbers move. One codegen'd tokenize pass, coordinates
    // only into the pack fold.
    "q187_tokenize_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(graft.text.Bpe.encode(col("text"), FixedBpeMerges))
            .cast("long").as("w"))
      graft.operators.Packing.packAudit(
        graft.operators.Packing.packNoSplit(docs, col("source"),
          col("doc_id"), col("w"), budget = 2048L), budget = 2048L)
        .select(col("part").as("source"), col("n_bins"), col("n_docs"),
          col("total_tokens"), col("padded_tokens"), col("utilization_e6"))
        .orderBy("source")
    }),

    // Margin-based parallel-pair mining (bitext mining): best cross-side
    // partner per even-label vector under the ratio-margin criterion —
    // raw cosine top-1 overselects hub vectors; the margin divides by
    // each endpoint's k-NN average similarity. Output is ids + the
    // chosen pair's raw-cosine rank (all integers — floats never cross
    // the engine boundary); the oracle re-derives neighborhood averages
    // with ORDERED sums so the double arithmetic matches bit-for-bit.
    "q189_margin_bitext" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.similarity.Similarity.marginMinedPairs(
          emb.filter(col("label") % 2 === 0), emb.filter(col("label") % 2 === 1),
          k = 4)
        .orderBy("a_id")
    }),

    // Cross-split span leakage: documents whose 16-token spans appear
    // verbatim on the OTHER side of the q30 train/val/test assignment —
    // the eval-contamination audit document-level dedup cannot see. Same
    // windows and md5-64 span identity as q64; the split is the
    // deterministic md5 rule, so DuckDB re-derives assignment, spans,
    // and the ≥2-distinct-splits test value-for-value.
    "q188_split_leakage_audit" -> ((s, dir) => {
      Dedup.crossSplitSpanLeakage(Tables.documents(s, dir),
          graft.operators.Sampling.splitColumn(col("doc_id"),
            Seq("train" -> 8L, "val" -> 1L, "test" -> 1L), 10L))
        .orderBy("doc_id", "split")
    }),

    // Model-based quality filtering (the stage a fastText classifier fills
    // in CCNet/RefinedWeb curation): hashed bag-of-words linear scorer
    // with deterministic stand-in weights — one codegen'd map pass,
    // nothing shuffles, and exact integer accumulation, so even the
    // "model score" oracles value-for-value. keep = score >= 0.
    "q85_quality_filter" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.linearQualityScore(col("text")).as("score_num"))
        .withColumn("keep", col("score_num") >= 0)
        .orderBy("doc_id")
    }),

    // Quality-stratified sampling audit: per-source score DECILES (ntile
    // over the integer model score, doc_id tie-break → total order, so the
    // binning is deterministic cross-engine) with each stratum's count,
    // score range, and how many docs a 1/5 deterministic sample keeps —
    // the "sample uniformly within quality bands" selection step, plus the
    // reconciliation numbers an operator checks after changing the rate.
    // One keyed window + one aggregation, coordinates only.
    "q114_quality_strata" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.linearQualityScore(col("text")).as("score_num"))
      val decile = ntile(10).over(
        Window.partitionBy(col("source"))
          .orderBy(col("score_num").asc, col("doc_id").asc))
      scored.withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n"),
          sum(when(graft.operators.Sampling.sampleMembership(col("doc_id"), 1L, 5L),
            1L).otherwise(0L)).as("n_kept"),
          min("score_num").as("min_score"), max("score_num").as("max_score"))
        .orderBy("source", "decile")
    }),

    // Canonical assignment: collapse the q14 near-dup pairs — every doc that
    // is the greater member of a pair maps to the smallest doc it pairs with.
    "q20_dedup_canonical" -> ((s, dir) => {
      Dedup.canonicalAssignment(
        Dedup.jaccardNearDupPairs(Tables.documents(s, dir),
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
        .orderBy("id")
    }),

    // Full transitive dedup clustering: connected components over the q14
    // pair graph (A~B, B~C ⇒ one cluster even when A~C was never emitted).
    "q23_dedup_components" -> ((s, dir) => {
      Dedup.connectedComponents(
        Dedup.jaccardNearDupPairs(Tables.documents(s, dir),
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
        .orderBy("id")
    }),

    // SOFT dedup: every doc weighted 1e6/|cluster| over the q23 components
    // (singletons = full weight) — the downweight-don't-drop policy, so
    // each distinct content contributes one unit of training weight.
    "q136_soft_dedup_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.softDedupWeights(docs,
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10))
        .orderBy("doc_id")
    }),

    // Leakage-free split: train/test membership keyed by the near-dup
    // CLUSTER id (q23 components, singletons = own cluster), so near-copies
    // can never straddle the boundary — the eval-contamination hole a
    // doc-keyed split (q30) leaves open whenever dedup is imperfect.
    "q139_cluster_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterSafeSplit(docs,
        Dedup.jaccardNearDupPairs(docs,
          thresholdNum = 3, thresholdDen = 4, rows = 4, shingleWidth = 10),
        trainNum = 4, trainDen = 5)
        .orderBy("doc_id")
    }),

    // DSIR selection: q112's importance weights applied as deterministic
    // Bernoulli keeps (md5 uniform over (seed, id) vs the e6-capped
    // weight) — the resampling step that actually assembles the mix.
    "q140_dsir_selection" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.operators.Dsir
        .unigramImportance(docs, col("source") === "src1")
        .withColumnRenamed("id", "doc_id")
      val weighted = docs.filter(col("source") =!= "src1").select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("mean_w_e6"), lit(0L)).as("mean_w_e6"))
      graft.operators.Dsir.importanceSample(weighted, seed = 7L, idCol = "doc_id")
        .orderBy("doc_id")
    }),

    // Data-quality gate: the batch-admission constraint report, one
    // aggregation pass for all checks (row count bounds, zero nulls, key
    // uniqueness, a deliberately tight length ceiling so the report
    // carries both outcomes). Guard.observedRun is the zero-extra-scan
    // production variant of the same checks (spec-pinned).
    "q151_quality_gate" -> ((s, dir) => {
      import graft.operators.Guard
      Guard.audit(Tables.documents(s, dir), Seq(
        Guard.Check("n_rows", count(lit(1)), lo = 1L, hi = 1000000000L),
        Guard.Check("null_text",
          sum(when(col("text").isNull, 1L).otherwise(0L)), lo = 0L, hi = 0L),
        Guard.Check("dup_ids",
          count(lit(1)) - countDistinct(col("doc_id")), lo = 0L, hi = 0L),
        Guard.Check("max_chars", max(col("n_chars")), lo = 0L, hi = 100L)))
        .orderBy("check")
    }),

    // Balanced per-source sample: exactly 5 docs per source in md5(11:id)
    // order — the per-key-count guarantee fractional sampling can't make,
    // through the bounded topk aggregate (≤5 structs per source per task
    // cross the exchange; a window would shuffle the whole corpus).
    "q146_sample_per_key" -> ((s, dir) => {
      graft.operators.Sampling.samplePerKey(
        Tables.documents(s, dir), col("source"), col("doc_id"), n = 5, seed = 11L)
        .withColumnRenamed("key", "source")
        .withColumnRenamed("id", "doc_id")
        .orderBy("source", "rank")
    }),

    // WEIGHTED sampling without replacement: length-proportional tickets
    // (n_chars div 50, capped at 10), priority = the row's smallest
    // md5(seed:id:ticket) draw, global 40 smallest priorities win. The
    // integer-exact stand-in for exponential-key weighted sampling —
    // min over unrolled tickets instead of u^(1/w), so any engine
    // re-derives the winner set hash-for-hash. Priorities are computed
    // map-side with NO ticket explosion (an array_min over a sequence
    // inside one projection), and only (id, priority) coordinates enter
    // the global top-n, which executes as TakeOrderedAndProject.
    "q154_weighted_sample" -> ((s, dir) => {
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir), col("doc_id"), expr("n_chars div 50"),
        n = 40, seed = 7L, maxTickets = 10)
        .withColumnRenamed("id", "doc_id")
    }),

    // Inverted index construction (posting lists): term → document
    // frequency + the first 8 doc ids, the export shape a search/
    // retrieval layer bulk-loads. df counts DISTINCT docs (within-doc
    // repeats collapse map-side via array_distinct before the explode),
    // and the posting cap rides the bounded topk aggregate — each task
    // forwards at most 8 (doc_id) structs per term into the exchange, so
    // a stopword's posting list never materializes beyond the cap.
    "q155_posting_lists" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          sort_array(graft.operators.TopK.topKStructs(
            struct(col("doc_id").as("d")), 8)).as("tk"))
        .filter(col("df") >= 2)
        .select(col("term"), col("df"),
          concat_ws(",", transform(col("tk"),
            t => t.getField("d").cast("string"))).as("postings"))
        .orderBy("term")
    }),

    // EXACT-proportion stratified sampling: exactly ceil(n_k/5) docs per
    // source, in md5(seed:id) order — where q30's hash-threshold rule
    // delivers proportions only in expectation (a 20-doc stratum can
    // yield 1 or 7 under the 1/5 rule) and samplePerKey needs a FIXED n,
    // this keeps the per-stratum count exact for whatever each stratum
    // holds: rank-within-stratum ≤ ceil-threshold from the same window's
    // count. Deterministic, nested in seed like every sampler here; the
    // shuffle carries (source, id, hash) coordinates once.
    "q177_stratified_split" -> ((s, dir) => {
      val u = shiftrightunsigned(graft.operators.Sampling.md5Hash64(
        concat_ws(":", lit(23L), col("doc_id"))), 1)
      val wRank = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
      val wAll = Window.partitionBy("source")
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), u.as("u"))
        .withColumn("rank", row_number().over(wRank))
        .withColumn("n_k", count(lit(1)).over(wAll))
        .filter(col("rank") <= expr("(n_k + 4) div 5"))
        .select(col("source"), col("rank"), col("doc_id"), col("n_k"))
        .orderBy("source", "rank")
    }),

    // Mix PLANNING (water-filling): given target proportions over a
    // source whitelist, the largest total corpus T whose per-source
    // demand num_s·T/den fits each source's supply — then the per-source
    // planned keeps and WHICH source binds the whole mix. The solver
    // step BEFORE weightedMix/tokenBudgetSampleByKey executes a plan:
    // all-integer (T = min over sources of n_s·den div num_s), counts
    // only — |whitelist| rows ever exist past the first aggregation.
    "q175_mix_plan" -> ((s, dir) => {
      val spec = Seq(("src0", 40L), ("src1", 35L), ("src2", 25L))
      val den = 100L
      val specDf = s.createDataFrame(spec).toDF("source", "t_num")
      val avail = Tables.documents(s, dir)
        .join(broadcast(specDf), Seq("source"))
        .groupBy(col("source"), col("t_num"))
        .agg(count(lit(1)).as("available"))
      val t = avail.agg(min(expr(s"available * $den div t_num")).as("t_total"))
      avail.crossJoin(broadcast(t))
        .select(col("source"), col("available"), col("t_num"),
          expr(s"t_num * t_total div $den").as("planned_keep"),
          (expr(s"available * $den div t_num") === col("t_total")).as("binding"))
        .orderBy("source")
    }),

    // AUDIO-shaped multimodal plumbing: payload bytes as little-endian
    // int16 PCM, windowed integer energy (Σs²) + peak per 50 samples —
    // the silence-detection/loudness primitives, through the same
    // one-decoder-per-partition batch shape as the image path (the
    // binary column never survives the projection). RMS = √(energy/n) is
    // the caller's float; keeping the stored signal integer is what lets
    // the oracle re-derive every window off the hex dump.
    "q173_audio_energy" -> ((s, dir) => {
      val payloads = graft.multimodal.Multimodal
        .withPayload(Tables.documents(s, dir))
        .withColumn("media_type", lit("audio/stub"))
      graft.multimodal.AudioStub.windowedEnergy(s, payloads, window = 50)
        .toDF().orderBy("doc_id", "win")
    }),

    // Per-source PARETO frontier (2-D skyline): documents not strictly
    // dominated on (quality, length) within their source — multi-criteria
    // selection where a single blended score would hide the trade-off
    // curve. Dominance rule: doc A dominates B iff quality_A > quality_B
    // AND len_A >= len_B; the frontier falls out of ONE windowed running
    // max (max length over strictly-higher-quality rows, a RANGE frame on
    // the integer score) — no pairwise join. Partitioned by source, so
    // the window is per-group, never a global sort; quality is the fused
    // integer q85 kernel score.
    "q172_pareto_frontier" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextAnalysis.linearQualityScore(col("text")).as("quality"))
        // Descending RANGE frame ending at -1 = rows with STRICTLY higher
        // quality (current + 1 and beyond in the sort direction).
        .withColumn("shadow", max(col("n_chars")).over(
          Window.partitionBy("source").orderBy(col("quality").desc)
            .rangeBetween(Window.unboundedPreceding, -1)))
        .filter(col("shadow").isNull || col("shadow") < col("n_chars"))
        .select(col("source"), col("doc_id"), col("quality"), col("n_chars"))
        .orderBy("source", "doc_id")
    }),

    // Vocabulary coverage curve (Zipf audit): top-30 tokens by corpus
    // occurrence count with their CUMULATIVE e6 share — the "how big must
    // the vocab be to cover X% of tokens" curve tokenizer sizing reads.
    // The token explosion aggregates to |vocab| coordinate rows map-side;
    // the ranking window is single-partition BY DESIGN over the
    // vocab-bounded counts table (thousands of rows at any corpus scale —
    // same bounded-model contract as the BPE merge table), never over
    // occurrences.
    "q165_vocab_coverage" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      val rank = Window.orderBy(col("n").desc, col("t"))
      val cum = rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.crossJoin(broadcast(tot))
        .select(col("t"), col("n"),
          row_number().over(rank).as("rank"),
          sum(col("n")).over(cum).as("cum_n"),
          col("total"))
        .filter(col("rank") <= 30)
        .select(col("t"), col("n"), col("rank"),
          expr("cum_n * 1000000 div total").as("cum_share_e6"))
        .orderBy("rank")
    }),

    // The Generator extension surface, oracle-checked: word-3-gram
    // document frequencies via `word_ngrams_explode` — a custom Catalyst
    // Generator that STREAMS grams through GenerateExec instead of
    // materializing each document's gram array before exploding (the
    // explode(transform(...)) formulation holds |tokens|·n gram bytes
    // live per document; the generator holds one gram). (doc, gram)
    // duplicates collapse in the partial aggregate map-side, so the
    // exchange carries distinct coordinates only; top-20 by (df, gram).
    "q162_ngram_generator_df" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.wordNgramsExplode(col("text"), 3).as("ngram"))
        .distinct()
        .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(20)
    }),

    // Conjunctive keyword search over the token relation: documents
    // containing BOTH terms, via two cascaded LEFT SEMI joins on the
    // exploded (doc, term) coordinates — the query side of q155's index.
    // Semi joins carry no payload and keep each match single-counted;
    // the text column itself never shuffles (ids rejoin at the end). The
    // oracle restates it as direct token-membership scans.
    "q159_conjunctive_search" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      def having(term: String) =
        toks.filter(col("term") === term).select(col("doc_id"))
      docs.join(having("spark"), Seq("doc_id"), "left_semi")
        .join(having("window"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Feature-hashed doc vectors (the hashing trick): fixed-dim signed
    // token-count coordinates from md5 hashes alone — the vocabulary-free
    // cheap embedding a pipeline uses before a learned encoder exists.
    // Integer coordinates, so the oracle rebuilds every (doc, bucket, tf).
    "q142_hashed_tf_vectors" -> ((s, dir) => {
      graft.text.TextVectors.hashedTfCoords(Tables.documents(s, dir), dim = 32)
        .orderBy("doc_id", "bucket")
    }),

    // PageRank (5 power iterations, e12 integer fixed-point) over the
    // user↔event-type bipartite graph — the authority-propagation shape
    // crawl curation runs over domain/link graphs to weight sources. Type
    // nodes get deterministic ids (1e9 + rank by name) so the oracle can
    // rebuild the identical graph; every iteration is all-integer, so the
    // unrolled CTE chain in DuckDB restates the computation exactly.
    "q138_pagerank_bipartite" -> ((s, dir) => {
      val ue = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val types = ue.select(col("event_type")).distinct()
        .withColumn("tid", lit(1000000000L) +
          row_number().over(Window.orderBy("event_type")))
      val et = ue.join(types, "event_type")
      val edges = et.select(col("user_id").as("src"), col("tid").as("dst"))
        .union(et.select(col("tid").as("src"), col("user_id").as("dst")))
      graft.operators.Graph.pagerank(edges, iters = 5).orderBy("node")
    }),

    // PII redaction — pure projection, no shuffle. The corpus is synthetic
    // (no real PII), so the query plants a deterministic contact blob per
    // customer and redacts it; the oracle re-runs the identical RE2-safe
    // patterns in DuckDB, proving the scrub is auditable off-Spark.
    "q51_pii_redaction" -> ((s, dir) => {
      Tables.customer(s, dir)
        .select(col("c_custkey"), plantedContactBlob.as("raw"))
        .select(col("c_custkey"), Cleanup.redactPii(col("raw")).as("redacted"))
        .orderBy("c_custkey")
    }),

    // Redaction efficacy audit over the same planted corpus — the QA
    // gate after q51's scrub: per pattern class, docs carrying raw hits,
    // total raw hits, residual hits after redaction. Every class must
    // read hits_after = 0 here (the blob plants all four shapes); the
    // counts are what a release pipeline thresholds on. One scan, the
    // redacted text bound once (see Cleanup.redactionAudit).
    "q197_redaction_audit" -> ((s, dir) => {
      Cleanup.redactionAudit(
        Tables.customer(s, dir).select(plantedContactBlob.as("raw")),
        col("raw"))
        .orderBy("pattern_class")
    }),

    // Markup stripping — tags out, whitespace collapsed, projection-only.
    // Wraps each document in deterministic markup, strips it, and must
    // recover exactly the whitespace-normalized original text.
    "q52_html_strip" -> ((s, dir) => {
      val html = concat(lit("<html><p class=\"d\">"), col("text"),
        lit("</p>\n<br/><div>src="), col("source"), lit("</div></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Cleanup.stripHtml(html).as("stripped"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization — a decomposed "e"+U+0301 suffix composes
    // to one code point; char counts and bytes (via md5) must agree with
    // DuckDB's independent nfc_normalize implementation.
    "q53_nfc_normalize" -> ((s, dir) => {
      // " cafe" + COMBINING ACUTE ACCENT (U+0301), decomposed on purpose:
      // NFC must compose the pair into a single U+00E9 code point.
      val raw = concat(col("text"), lit(" cafe"), lit("\u0301"))
      Tables.documents(s, dir)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).as("n_chars_raw"),
          length(Cleanup.nfcNormalize(col("raw"))).as("n_chars_nfc"),
          md5(Cleanup.nfcNormalize(col("raw")).cast("binary")).as("fp_nfc"))
        .orderBy("doc_id")
    })
  )

  /** The q51/q197 planted contact blob: one email, one international and
   * one bare phone, one dotted quad per customer row — deterministic, so
   * both the redaction and its audit oracle value-for-value. */
  private def plantedContactBlob: org.apache.spark.sql.Column = concat(
    col("c_name"), lit(" <"),
    lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com> tel +1 555-"),
    lpad(pmod(col("c_custkey"), lit(1000)).cast("string"), 3, "0"), lit("-"),
    lpad(pmod(col("c_custkey") * 7, lit(10000)).cast("string"), 4, "0"),
    lit(" alt 555-000-1234 from 10."),
    pmod(col("c_custkey"), lit(256)).cast("string"), lit(".0."),
    pmod(col("c_nationkey"), lit(256)).cast("string"))

  private[queries] val tokensSql =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter($tokensSql, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  private[queries] val enHits = hitsSql(graft.text.Stopwords.English)
  private val deHits = hitsSql(graft.text.Stopwords.German)
  private val esHits = hitsSql(graft.text.Stopwords.Spanish)
  private val frHits = hitsSql(graft.text.Stopwords.French)

  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** One BPE round over the `bper{k-1}` vocabulary CTE (q91 oracle): count
   * adjacent symbol pairs weighted by word count, adopt the
   * (cnt desc, pair asc) argmax as `bpm{k}`, and re-segment greedily
   * left-to-right — runs of CONSECUTIVE eligible start positions keep
   * alternate members (rn odd), the relational formulation of
   * [[graft.text.Bpe]]'s fold: a position consumed by the previous merge
   * (the NOT EXISTS on i−1 ∈ starts) cannot start the next one. */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"bper${k - 1}"
    s"""bpc$k AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(w)::BIGINT AS cnt
       |  FROM $prev, LATERAL (SELECT unnest(range(1, len(syms))) AS i) ix
       |  GROUP BY 1, 2
       |),
       |bpm$k AS (SELECT a, b, cnt FROM bpc$k ORDER BY cnt DESC, a, b LIMIT 1),
       |bapp$k AS MATERIALIZED (
       |  SELECT word, w, i, syms[i] AS s,
       |    CASE WHEN i < len(syms) AND syms[i] = (SELECT a FROM bpm$k)
       |              AND syms[i + 1] = (SELECT b FROM bpm$k)
       |         THEN 1 ELSE 0 END AS e
       |  FROM $prev, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) ix
       |),
       |bruns$k AS (
       |  SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
       |  FROM bapp$k WHERE e = 1
       |),
       |bstart$k AS (
       |  SELECT word, i FROM (
       |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rn
       |    FROM bruns$k) r
       |  WHERE rn % 2 = 1
       |),
       |bper$k AS MATERIALIZED (
       |  SELECT a.word, min(a.w) AS w,
       |    list(CASE WHEN st.i IS NOT NULL THEN a.s || nx.s ELSE a.s END ORDER BY a.i) AS syms
       |  FROM bapp$k a
       |  LEFT JOIN bstart$k st ON a.word = st.word AND a.i = st.i
       |  LEFT JOIN bapp$k nx ON a.word = nx.word AND nx.i = a.i + 1
       |  WHERE NOT EXISTS (SELECT 1 FROM bstart$k c WHERE c.word = a.word AND c.i = a.i - 1)
       |  GROUP BY a.word
       |)""".stripMargin
  }

  /** The shipped-tokenizer merge table q186 applies — FIXED (a model
   * artifact, deliberately NOT derived from the fixture, because the
   * production tokenize step ships its merges with the pipeline), with
   * chained merges (th→the, an→and) so adoption order is load-bearing.
   * Single source of truth for the engine query AND the oracle chain. */
  private[queries] lazy val FixedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("s", "t"))

  /** One GIVEN-merge application round over the `fper{k-1}` distinct-word
   * vocabulary — [[bpeRoundSql]]'s greedy-runs application half with the
   * merge as literals (no count/argmax: the table is shipped, not
   * learned). */
  private def fixedBpeApplySql(k: Int, a: String, b: String): String = {
    val prev = s"fper${k - 1}"
    val qa = a.replace("'", "''")
    val qb = b.replace("'", "''")
    s"""fapp$k AS MATERIALIZED (
       |  SELECT word, i, syms[i] AS s,
       |    CASE WHEN i < len(syms) AND syms[i] = '$qa' AND syms[i + 1] = '$qb'
       |         THEN 1 ELSE 0 END AS e
       |  FROM $prev, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) ix
       |),
       |fruns$k AS (
       |  SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
       |  FROM fapp$k WHERE e = 1
       |),
       |fstart$k AS (
       |  SELECT word, i FROM (
       |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rn
       |    FROM fruns$k) r
       |  WHERE rn % 2 = 1
       |),
       |fper$k AS MATERIALIZED (
       |  SELECT a.word,
       |    list(CASE WHEN st.i IS NOT NULL THEN a.s || nx.s ELSE a.s END ORDER BY a.i) AS syms
       |  FROM fapp$k a
       |  LEFT JOIN fstart$k st ON a.word = st.word AND a.i = st.i
       |  LEFT JOIN fapp$k nx ON a.word = nx.word AND nx.i = a.i + 1
       |  WHERE NOT EXISTS (SELECT 1 FROM fstart$k c WHERE c.word = a.word AND c.i = a.i - 1)
       |  GROUP BY a.word
       |)""".stripMargin
  }

  /** Distinct-word vocabulary + the full [[FixedBpeMerges]] application
   * chain (fper0 → fperN) for the q186 oracle. Lazy: interpolates
   * [[tokensSql]], declared later in this object. */
  private lazy val fixedBpeApplyChainSql: String =
    (s"""fper0 AS MATERIALIZED (
        |  SELECT word,
        |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
        |  FROM (SELECT DISTINCT unnest($tokensSql) AS word FROM documents) t
        |)""".stripMargin +:
      FixedBpeMerges.zipWithIndex.map { case ((a, b), i) =>
        fixedBpeApplySql(i + 1, a, b)
      }).mkString(",\n")

  /** The vocabulary + four-BPE-round CTE chain (bper0 → bper4 with each
   * round's adopted merge in bpm1..bpm4) — shared by the q91 (learn) and
   * q95 (encode) oracles so the two stay on one segmentation. Lazy:
   * interpolates [[tokensSql]], declared later in this object. */
  private lazy val bpeChain4Sql =
    s"""bper0 AS MATERIALIZED (
       |  SELECT word, count(*)::BIGINT AS w,
       |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
       |  FROM (SELECT unnest($tokensSql) AS word FROM documents) t
       |  GROUP BY word
       |),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)},
       |${bpeRoundSql(4)}""".stripMargin

  /** The q41/q77 mixture spec: sources 1..12 at rates 1/4..4/4 cycling —
   * one list, consumed by both harness queries AND the q77 oracle
   * generator, so spec and audit cannot drift. */
  private val mixWeights: Seq[(String, (Long, Long))] =
    (1 to 12).map(i => s"src$i" -> (((i - 1) % 4 + 1).toLong, 4L))

  /** q112's DSIR weight derivation (token counts → smoothed e6 likelihood
   * ratios → per-raw-doc sums) — shared by the q112 oracle and q140's
   * selection oracle so weights and selection cannot drift. */
  private lazy val dsirCtesSql =
    s"""toks AS (
       |  SELECT doc_id, source = 'src1' AS tgt, unnest($tokensSql) AS w
       |  FROM documents),
       |counts AS (
       |  SELECT w,
       |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
       |    sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS cr
       |  FROM toks GROUP BY 1),
       |tot AS (
       |  SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr,
       |    count(*)::BIGINT AS v
       |  FROM counts),
       |wt AS (
       |  SELECT w, (1000000::BIGINT * (ct + 1) * (nr + v))
       |    // ((cr + 1) * (nt + v)) AS w_e6
       |  FROM counts, tot),
       |per AS (
       |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(w_e6)::BIGINT AS w_sum
       |  FROM toks t JOIN wt USING (w) WHERE NOT t.tgt GROUP BY 1)""".stripMargin

  /** q138's PageRank restated as an unrolled CTE chain: the identical
   * bipartite graph (deterministic 1e9+rank type ids) and one CTE per
   * power iteration with the same e12 integer `//` arithmetic — generated
   * for `iters` rounds so the Spark loop and the oracle cannot disagree on
   * iteration count. */
  private def pagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT nd.node, pb.base + (85 * coalesce(c.s, 0)) // 100 AS r
         |  FROM nodes nd CROSS JOIN pbase pb
         |  LEFT JOIN (
         |    SELECT e.dst, sum($prev.r // deg.d)::BIGINT AS s
         |    FROM e JOIN $prev ON e.src = $prev.node
         |    JOIN deg ON e.src = deg.src
         |    GROUP BY e.dst) c ON nd.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
       |types AS (
       |  SELECT event_type,
       |    1000000000 + row_number() OVER (ORDER BY event_type) AS tid
       |  FROM (SELECT DISTINCT event_type FROM events)),
       |e AS (
       |  SELECT ue.user_id AS src, t.tid AS dst
       |  FROM ue JOIN types t USING (event_type)
       |  UNION ALL
       |  SELECT t.tid, ue.user_id FROM ue JOIN types t USING (event_type)),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |pbase AS (SELECT ((1000000000000 * 15) // 100) // n AS base FROM nn),
       |deg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY 1),
       |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, r::BIGINT AS rank_e12 FROM r$iters ORDER BY node""".stripMargin
  }

  /** Md5-auditable simhash re-derivation CTEs (tok → per-token 64-bit
   * hash → per-bit majority votes → sim, one UBIGINT per document, 0 for
   * token-less docs) — shared by the q15 pair oracle and the q74 bucket
   * accounting so the two cannot drift. */
  private val simhashCtesSql =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS t
      |  FROM documents
      |),
      |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, b.b AS b,
      |    sum(((h >> b.b) & 1)::INT)::INT AS votes, count(*)::INT AS n
      |  FROM h, (SELECT unnest(range(64)) AS b) b
      |  GROUP BY 1, 2
      |),
      |sim AS (
      |  SELECT d.doc_id,
      |    coalesce(s.sim, 0::UBIGINT) AS sim
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id,
      |      sum(CASE WHEN votes * 2 > n THEN (1::UBIGINT << b)::HUGEINT ELSE 0 END)::UBIGINT AS sim
      |    FROM bits GROUP BY 1) s USING (doc_id)
      |)""".stripMargin


  /** Shared fixture of the paired-comparison triple (q240 / q244 /
   * q246): per-query fused-vs-lex AP@10 rationals as (query_id, a, b,
   * dd) — a/b the two arms' ap_num over the query's SHARED ap_den
   * (same query → same n_rel → same denominator), dd that denominator.
   * Extracted so the three significance tests can never drift apart
   * on the fixture (k, kConst, or the relevance rule). */
  private def apDeltaWide(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = docs.filter(col("doc_id") < 10)
    val lex = graft.operators.Retrieval.termOverlapTopK(queries, docs, k = 10)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, sem),
      kConst = 60, topK = 10)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val rel = docs.select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(queries
          .select(col("doc_id").as("query_id"), col("lang"), col("source"))),
        Seq("lang", "source"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"))
    val ap = graft.operators.Retrieval.apAtK(
      Seq("fused" -> fused, "lex" -> lex), rel, k = 10)
    ap.groupBy(col("query_id"))
      .agg(coalesce(max(when(col("system") === "fused", col("ap_num"))),
          lit(0L)).as("a"),
        coalesce(max(when(col("system") === "lex", col("ap_num"))),
          lit(0L)).as("b"),
        max(col("ap_den")).as("dd"))
  }

  /** The q202/q209/q216 retrieval derivation shared CTE chain (lexical
   * overlap ranks, semantic cosine ranks, integer RRF fusion, the
   * same-(lang, source) relevance fixture + judged counts, and the
   * tagged system union) — one template so the eval oracles' rank
   * semantics cannot drift. Lazy: interpolates [[tokensSql]]. */
  private lazy val retrievalEvalCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_distinct($tokensSql)) AS term FROM documents
       |),
       |lex AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ov DESC, doc_id ASC) AS rank
       |    FROM (
       |      SELECT q.doc_id AS query_id, c.doc_id AS doc_id, count(*) AS ov
       |      FROM toks c JOIN toks q ON c.term = q.term
       |      WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
       |      GROUP BY 1, 2))
       |  WHERE rank <= 10
       |),
       |sem AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, neighbor_id AS doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        q.embedding AS qv, c.embedding AS cv
       |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |      WHERE q.vec_id < 10))
       |  WHERE rank <= 10
       |),
       |contrib AS (
       |  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM lex
       |  UNION ALL
       |  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c FROM sem
       |),
       |fused AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf_e6 DESC, doc_id ASC) AS rank
       |    FROM (
       |      SELECT query_id, doc_id, sum(c)::BIGINT AS rrf_e6
       |      FROM contrib GROUP BY 1, 2))
       |  WHERE rank <= 10
       |),
       |rel AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id
       |  FROM documents q JOIN documents c
       |    ON q.lang = c.lang AND q.source = c.source
       |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
       |),
       |judged AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1),
       |sys AS (
       |  SELECT 'fused' AS system, query_id, doc_id, rank FROM fused
       |  UNION ALL SELECT 'lex', query_id, doc_id, rank FROM lex
       |  UNION ALL SELECT 'sem', query_id, doc_id, rank FROM sem
       |)"""

  /** The q14 near-dup graph closed transitively — `comps` is
   * (id, component_id) for every doc in a qualifying pair. Shared by the
   * q23 and q93 oracles (callers prepend WITH RECURSIVE). Lazy: it
   * interpolates [[shingleSql]], which is declared later in this object —
   * a strict val here would capture null (initialization order). */
  private lazy val componentsCtesSql =
    s"""sh AS (
       |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
       |),
       |pair_inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::INT AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sizes AS (SELECT doc_id, count(*)::INT AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT id_a, id_b FROM pair_inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE inter * 4 >= (sa.n + sb.n - inter) * 3
       |),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
       |),
       |comps AS (
       |  SELECT u AS id, min(r) AS component_id FROM reach GROUP BY u
       |)""".stripMargin

  /** The k=16 MinHash coefficient rows for the q92 oracle, generated from
   * the SAME arrays the kernel hashes with
   * ([[graft.dedup.MinHashSignature.coefficients]]) — embedded as HUGEINT
   * literals of the unsigned 64-bit values so spec and oracle cannot
   * drift. */
  private lazy val minhash16CoeffRowsSql: String = {
    val (mulA, addB) = graft.dedup.MinHashSignature.coefficients(16)
    mulA.indices.map { i =>
      val a = java.lang.Long.toUnsignedString(mulA(i))
      val b = java.lang.Long.toUnsignedString(addB(i))
      s"  ($i, $a::HUGEINT, $b::HUGEINT)"
    }.mkString(",\n")
  }

  /** The 14 SQS(8) band-key projections, generated from the SAME
   * [[graft.dedup.Dedup.Sqs8Blocks]] the kernel bands with: block
   * [c0,c1,c2,c3] packs chunk bytes big-endian into one 32-bit key. */
  private lazy val sqs8BandSelectsSql: String =
    graft.dedup.Dedup.Sqs8Blocks.zipWithIndex.map { case (blk, band) =>
      val v = blk.zipWithIndex.map { case (c, pos) =>
        s"(((sim >> ${c * 8}) & 255) << ${(3 - pos) * 8})"
      }.mkString(" | ")
      s"  SELECT $band AS band, $v AS v FROM sim"
    }.mkString("\n  UNION ALL\n")

  /** q76's slice: chosen so BOTH driver scales exercise the operator —
   * at sf0.1 it contains four cross-source exact-duplicate fingerprints
   * (identity classes for the collapse to collapse), and at sf0.01 it
   * contains several qualifying near-dup pairs (so the oracle row match
   * is never vacuous). */
  private val dupSources = Seq(
    "src1", "src2", "src3", "src5", "src7", "src15", "src17", "src19")

  /** Definitional all-pairs word-3-gram Jaccard at threshold 1/2 — shared
   * by q59 (direct PPJoin, whole corpus) and q76 (identity-collapsed
   * PPJoin, dup-carrying slice): each plan must reproduce it row-for-row
   * over its `where` scope. */
  private def ngramJaccardOracleSql(where: String = ""): String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents $where),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(ts[i.i::INT] || ' ' || ts[(i.i + 1)::INT]
       |      || ' ' || ts[(i.i + 2)::INT]), 1, 16))::UBIGINT AS g
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) i
       |),
       |pair_inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::INT AS inter
       |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sizes AS (SELECT doc_id, count(*)::INT AS n FROM g GROUP BY 1)
       |SELECT id_a, id_b, inter, (sa.n + sb.n - inter)::INT AS uni
       |FROM pair_inter
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE inter * 2 >= (sa.n + sb.n - inter) * 1
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact top-5 cosine neighbors for queries vec_id < 10 — shared by the
   * q17 oracle and the q66 recall join so the derivations cannot drift. */
  private val annExactSql =
    """SELECT query_id, rank::INT AS rank, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |               c.vec_id ASC) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** int8-quantized top-5 (absmax codes, scale-corrected ranking) — shared
   * by the q33 oracle and the q69 recall join. */
  private val annQuantSql =
    """WITH qz AS (
      |  SELECT vec_id, amax,
      |    CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0.0)
      |         ELSE list_transform(embedding, x ->
      |           least(greatest(floor(x::DOUBLE / (amax / 127) + 0.5), -127.0), 127.0))
      |    END AS q
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
      |        FROM embeddings)
      |)
      |SELECT query_id, rank::INT AS rank, neighbor_id FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.q, b.q)
      |                 * (CASE WHEN b.amax = 0 THEN 0 ELSE b.amax / 127 END) DESC,
      |               b.vec_id ASC) AS rank
      |  FROM qz a JOIN qz b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 10)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** IVF top-5 (first-16 centroids, nProbe=4) — shared by q19 and q66. */
  /** The IVF probe-and-rerank oracle chain; `restrict` appends extra
   * predicates to the re-rank candidate set (the q96 filtered-ANN
   * post-filter — empty for the unfiltered q19/q66 uses). */
  private def annIvfSqlWith(restrict: String): String =
    s"""WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  ORDER BY vec_id LIMIT 16
      |),
      |assign AS (
      |  SELECT id, vec, cid FROM (
      |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
      |    FROM embeddings e, cent c)
      |  WHERE rn = 1
      |),
      |probes AS (
      |  SELECT query_id, q_vec, cid FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.embedding, c.cvec) DESC, c.cid ASC) AS rn
      |    FROM embeddings q, cent c WHERE q.vec_id < 10)
      |  WHERE rn <= 4
      |)
      |SELECT query_id, rank::INT AS rank, neighbor_id FROM (
      |  SELECT p.query_id, a.id AS neighbor_id,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_cosine_similarity(p.q_vec, a.vec) DESC, a.id ASC) AS rank
      |  FROM probes p JOIN assign a USING (cid)
      |  WHERE a.id <> p.query_id$restrict)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val annIvfSql = annIvfSqlWith("")

  /** The batch-perceptron epochs of q125/q126 unrolled as CTEs: w1..w3
   * accumulate the per-epoch misclassified-document updates over the same
   * md5-2048 buckets the Spark scorer hashes into. All-integer, so the
   * learned table matches weight-for-weight. */
  private lazy val perceptronCtes: String = {
    val bSql = "((('0x' || substr(md5(t), 1, 16))::UBIGINT & 2047::UBIGINT)::BIGINT)"
    s"""WITH occ0 AS (
       |  SELECT doc_id, lang, unnest($tokensSql) AS t FROM documents
       |),
       |occ AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    $bSql AS b
       |  FROM occ0
       |),
       |ydoc AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |  FROM documents
       |),
       |w1 AS (SELECT b, sum(y)::BIGINT AS w FROM occ GROUP BY 1),
       |m2 AS (SELECT o.doc_id, sum(w1.w)::BIGINT AS margin
       |       FROM occ o JOIN w1 USING (b) GROUP BY 1),
       |mis2 AS (SELECT y.doc_id FROM ydoc y LEFT JOIN m2 USING (doc_id)
       |         WHERE y.y * coalesce(m2.margin, 0) <= 0),
       |d2 AS (SELECT o.b, sum(o.y)::BIGINT AS d
       |       FROM occ o JOIN mis2 USING (doc_id) GROUP BY 1),
       |w2 AS (SELECT coalesce(w1.b, d2.b) AS b,
       |         (coalesce(w1.w, 0) + coalesce(d2.d, 0))::BIGINT AS w
       |       FROM w1 FULL JOIN d2 ON w1.b = d2.b),
       |m3 AS (SELECT o.doc_id, sum(w2.w)::BIGINT AS margin
       |       FROM occ o JOIN w2 ON o.b = w2.b GROUP BY 1),
       |mis3 AS (SELECT y.doc_id FROM ydoc y LEFT JOIN m3 USING (doc_id)
       |         WHERE y.y * coalesce(m3.margin, 0) <= 0),
       |d3 AS (SELECT o.b, sum(o.y)::BIGINT AS d
       |       FROM occ o JOIN mis3 USING (doc_id) GROUP BY 1),
       |w3 AS (SELECT coalesce(w2.b, d3.b) AS b,
       |         (coalesce(w2.w, 0) + coalesce(d3.d, 0))::BIGINT AS w
       |       FROM w2 FULL JOIN d3 ON w2.b = d3.b)""".stripMargin
  }

  /** DuckDB restatement of [[Similarity.ivfPqTopK]] at the q121 defaults
   * (m=8 × 8-dim subspaces, ks=16 codewords, 16 cells, nProbe=4,
   * shortlist=32, k=5). Every float kernel is forced to the same double
   * arithmetic the Spark expressions run (`x::DOUBLE` per element before
   * `list_dot_product`, the squared-L2 dot identity verbatim), and the
   * ADC sum is DECIMAL(38,16) on both engines, so ranking is bit-exact. */
  private val annIvfPqSql = annIvfPqSqlWith(
    """cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  ORDER BY vec_id LIMIT 16
      |)""".stripMargin, "cent", nProbe = 4)

  /** Same PQ chain with the coarse-quantizer CTEs pluggable — q121 uses
   * the first-16 rule, q127 plugs the q55 two-iteration Lloyd chain. */
  private def annIvfPqSqlWith(centCtes: String, centName: String, nProbe: Int): String =
    s"""WITH $centCtes,
      |seed AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
      |    embedding AS vec
      |  FROM embeddings ORDER BY vec_id LIMIT 16
      |),
      |subsp AS (SELECT unnest(range(8)) AS sub),
      |cb AS (
      |  SELECT subsp.sub, seed.code,
      |    list_transform(list_slice(seed.vec, subsp.sub*8+1, subsp.sub*8+8),
      |      x -> x::DOUBLE) AS cw
      |  FROM seed, subsp
      |),
      |subs AS (
      |  SELECT e.vec_id AS id, subsp.sub,
      |    list_transform(list_slice(e.embedding, subsp.sub*8+1, subsp.sub*8+8),
      |      x -> x::DOUBLE) AS sv
      |  FROM embeddings e, subsp
      |),
      |enc AS (
      |  SELECT id, sub, code FROM (
      |    SELECT s.id, s.sub, cb.code,
      |      row_number() OVER (PARTITION BY s.id, s.sub
      |        ORDER BY list_dot_product(s.sv, s.sv) + list_dot_product(cb.cw, cb.cw)
      |               - 2 * list_dot_product(s.sv, cb.cw) ASC, cb.code ASC) AS rn
      |    FROM subs s JOIN cb USING (sub))
      |  WHERE rn = 1
      |),
      |assign AS (
      |  SELECT id, cid FROM (
      |    SELECT e.vec_id AS id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
      |    FROM embeddings e, $centName c)
      |  WHERE rn = 1
      |),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.vec_id AS query_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.embedding, c.cvec) DESC, c.cid ASC) AS rn
      |    FROM embeddings q, $centName c WHERE q.vec_id < 10)
      |  WHERE rn <= $nProbe
      |),
      |lut AS (
      |  SELECT q.vec_id AS query_id, cb.sub, cb.code,
      |    list_dot_product(
      |      list_transform(list_slice(q.embedding, cb.sub*8+1, cb.sub*8+8),
      |        x -> x::DOUBLE), cb.cw) AS dv
      |  FROM embeddings q, cb WHERE q.vec_id < 10
      |),
      |adc AS (
      |  SELECT p.query_id, a.id, sum(CAST(l.dv AS DECIMAL(38,16))) AS adc
      |  FROM probes p JOIN assign a USING (cid)
      |  JOIN enc e ON e.id = a.id
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = e.sub AND l.code = e.code
      |  WHERE a.id <> p.query_id
      |  GROUP BY 1, 2
      |),
      |short AS (
      |  SELECT query_id, id FROM (
      |    SELECT query_id, id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY adc DESC, id ASC) AS rn
      |    FROM adc)
      |  WHERE rn <= 32
      |)
      |SELECT query_id, rank::INT AS rank, neighbor_id FROM (
      |  SELECT s.query_id, s.id AS neighbor_id,
      |    row_number() OVER (PARTITION BY s.query_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, s.id ASC) AS rank
      |  FROM short s
      |  JOIN embeddings q ON q.vec_id = s.query_id
      |  JOIN embeddings c ON c.vec_id = s.id)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of [[Cleanup.scrub]]: same NFC normalize, same
   * conditional markup strip, same redaction patterns in the same order
   * ('g' = replace-all, matching Spark's regexp_replace default). */
  private[queries] val scrubSql =
    """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  CASE WHEN regexp_matches(nfc_normalize(text), '<[^>]*>')
      |       THEN trim(regexp_replace(regexp_replace(nfc_normalize(text),
      |              '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))
      |       ELSE nfc_normalize(text) END,
      |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |  '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g'),
      |  '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g'),
      |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')""".stripMargin

  /** 10-char shingles — must stay in lockstep with q14's `shingleWidth`. */
  /** Definitional 10-gram-shingle Jaccard at threshold 3/4 — shared by q14
   * (batch LSH) and q102 (streaming LSH index + batch verify), which must
   * agree pair-for-pair. `lazy`: interpolates [[shingleSql]] declared
   * below (the object-init-order trap). */
  /** Definitional all-pairs near-dup CTE chain ending in `ndpairs(id_a,
   * id_b, inter, uni)` — shared by q14/q102 (the pair list itself) and
   * q184 (the source-flow rollup), so the pair semantics cannot drift
   * between the three oracles. */
  private lazy val minhashNearDupCteSql =
    s"""sh AS (
       |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
       |),
       |pair_inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::INT AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sizes AS (SELECT doc_id, count(*)::INT AS n FROM sh GROUP BY 1),
       |ndpairs AS (
       |  SELECT id_a, id_b, inter, (sa.n + sb.n - inter)::INT AS uni
       |  FROM pair_inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE inter * 4 >= (sa.n + sb.n - inter) * 3)"""

  private lazy val minhashNearDupOracleSql =
    s"""WITH $minhashNearDupCteSql
       |SELECT id_a, id_b, inter, uni FROM ndpairs
       |ORDER BY id_a, id_b""".stripMargin

  private[queries] val shingleSql =
    """list_distinct(list_transform(
      |  range(1, greatest(length(text) - 9, 1) + 1),
      |  i -> substr(lower(text), i::INT, 10)))""".stripMargin

  /** 8-token gram at 1-based window start i.i — shared by q35/q36 so the
   * contamination semantics cannot drift between the two oracles. */
  private val gram8Sql =
    (0 until 8).map(k => s"ts[(i.i + $k)::INT]").mkString(" || ' ' || ")

  /** Per-doc duplicate-line stats CTE chain over a relation named `corpus`
   * — shared q34/q36 (q34 aliases documents as corpus). */
  private val lineStatsSql =
    """lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM corpus),
      |lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
      |line_stats AS (
      |  SELECT doc_id,
      |    sum(c)::INT AS n_lines,
      |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::INT AS dup_lines,
      |    sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END)::INT AS dup_line_chars
      |  FROM lc GROUP BY 1
      |)""".stripMargin

  /** Per-doc bigram stats CTE chain over a token relation `toks(doc_id, ts)`
   * — shared q34/q36. */
  private val bigramStatsSql =
    """bg2 AS (
      |  SELECT doc_id, ts[i.i::INT] || ' ' || ts[(i.i + 1)::INT] AS b
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i) i
      |),
      |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg2 GROUP BY 1, 2),
      |bg_stats AS (
      |  SELECT doc_id, sum(c)::INT AS n_bigrams, max(c)::INT AS top_bigram
      |  FROM bgc GROUP BY 1
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q10_text_stats" ->
      s"""SELECT doc_id,
         |  length(text)::INT AS n_chars,
         |  len($tokensSql)::INT AS n_tokens,
         |  len(list_distinct($tokensSql))::INT AS n_distinct_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::INT AS n_subtokens,
         |  length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::INT AS n_alpha_chars,
         |  length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::INT AS n_punct_chars,
         |  $enHits::INT AS n_stopword_tokens,
         |  list_max(list_transform($tokensSql, t -> length(t)))::INT AS max_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q11_text_langid" ->
      s"""SELECT doc_id, lang AS labeled,
         |  CASE
         |    WHEN $enHits >= $deHits AND $enHits >= $esHits AND $enHits >= $frHits THEN 'en'
         |    WHEN $deHits >= $esHits AND $deHits >= $frHits THEN 'de'
         |    WHEN $esHits >= $frHits THEN 'es'
         |    ELSE 'fr'
         |  END AS guessed
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_text_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fp FROM documents ORDER BY doc_id""",
    // Same two md5-64 draws (top 63 bits — non-negative, so % agrees),
    // same integer span arithmetic, md5 of the identical substring.
    "q191_fim_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text)::BIGINT AS L,
        |    (('0x' || substr(md5('fim-a:' || doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)::BIGINT AS h1,
        |    (('0x' || substr(md5('fim-b:' || doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)::BIGINT AS h2
        |  FROM documents WHERE length(text) >= 32),
        |m AS (
        |  SELECT doc_id, text, L, h1, 1 + (h2 % (L // 4)) AS mid_len FROM d),
        |p AS (
        |  SELECT doc_id, text, L, mid_len, h1 % (L - mid_len + 1) AS pre_len FROM m)
        |SELECT doc_id, pre_len, mid_len, (L - pre_len - mid_len) AS suf_len,
        |  md5(substr(text, (pre_len + 1)::INT, mid_len::INT)) AS mid_fp
        |FROM p ORDER BY doc_id""".stripMargin,
    // Replicates the full pipeline: the Cleanup.scrub stage, canonical ids
    // per fingerprint group, 8-gram contamination against src0, the integer
    // quality rationals, then the md5-threshold split (9/10 cumulative =
    // floor(9*2^63/10)).
    "q36_pipeline_end2end" ->
      s"""WITH cleaned AS (SELECT * REPLACE ($scrubSql AS text) FROM documents),
         |corpus AS (SELECT * FROM cleaned WHERE source <> 'src0'),
         |norm AS (SELECT doc_id, md5($normSql) AS fp FROM corpus),
         |canonical AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY fp),
         |toksall AS (SELECT doc_id, source, $tokensSql AS ts FROM cleaned),
         |toks AS (SELECT doc_id, ts FROM toksall WHERE source <> 'src0'),
         |bg8 AS (
         |  SELECT doc_id, source, $gram8Sql AS g
         |  FROM toksall, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |),
         |bench AS (SELECT DISTINCT g FROM bg8 WHERE source = 'src0'),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM bg8 JOIN bench USING (g) WHERE source <> 'src0'
         |),
         |$lineStatsSql,
         |$bigramStatsSql,
         |sig AS (
         |  SELECT t.doc_id, len(ts) AS n_tokens, len(list_distinct(ts)) AS n_distinct,
         |    coalesce(ls.n_lines, 0) AS n_lines, coalesce(ls.dup_lines, 0) AS dup_lines,
         |    coalesce(bs.n_bigrams, 0) AS n_bigrams, coalesce(bs.top_bigram, 0) AS top_bigram
         |  FROM toks t
         |  LEFT JOIN line_stats ls ON t.doc_id = ls.doc_id
         |  LEFT JOIN bg_stats bs ON t.doc_id = bs.doc_id
         |  WHERE t.doc_id IN (SELECT doc_id FROM canonical)
         |    AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = t.doc_id)
         |)
         |SELECT doc_id,
         |  CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
         |         < 8301034833169298227::UBIGINT THEN 'train'
         |       ELSE 'val' END AS split
         |FROM sig
         |WHERE n_tokens >= 10 AND n_tokens <= 5000
         |  AND n_distinct * 10 >= n_tokens * 3
         |  AND dup_lines * 5 <= n_lines
         |  AND top_bigram * 5 <= greatest(n_bigrams, 1)
         |ORDER BY doc_id""".stripMargin,

    // Exact GROUP BY replica of the sketch query: the sketch is in exact
    // mode (vocabulary << map), so counts match value-for-value, and the
    // ppm filter is the same integer arithmetic (cnt >= ceil(n*ppm/1e6)
    // ⇔ cnt*1e6 >= n*ppm for integer cnt).
    "q37_freq_heavyhitters" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |bg AS (SELECT ts[i.i::INT] || ' ' || ts[(i.i + 1)::INT] AS b
         |       FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i) i),
         |tot AS (SELECT count(*) AS n FROM bg)
         |SELECT b AS item, count(*)::BIGINT AS cnt
         |FROM bg, tot GROUP BY b, n
         |HAVING count(*) * 1000000 >= n * 1500
         |ORDER BY item""".stripMargin,

    // The two-phase salted plan keeps exactly the rows the single-window
    // rank keeps (ranking order is identical in both phases), so one
    // row_number is the complete oracle.
    "q38_source_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    // Same stream order, token counts, and integer bin math as the Spark
    // side: prefix-sum of tokens before each doc, then div/mod 512.
    "q39_sequence_packing" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, len($tokensSql)::BIGINT AS n_tokens FROM documents
         |),
         |ord AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY md5(doc_id::VARCHAR), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |  FROM toks
         |)
         |SELECT doc_id, source, n_tokens,
         |  (start // 512)::BIGINT AS pack_id,
         |  (start % 512)::BIGINT AS pack_offset
         |FROM ord ORDER BY doc_id""".stripMargin,

    // Thresholds are floor(num·2^63/4): 1/4 → 2^61, 2/4 → 2^62,
    // 3/4 → 3·2^61; 4/4 keeps everything (the threshold rule cannot
    // express it, matching weightedMix's num == den bypass).
    "q41_corpus_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE source IN ('src4', 'src8', 'src12')
        |   OR (source IN ('src1', 'src5', 'src9') AND
        |       (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
        |         < 2305843009213693952)
        |   OR (source IN ('src2', 'src6', 'src10') AND
        |       (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
        |         < 4611686018427387904)
        |   OR (source IN ('src3', 'src7', 'src11') AND
        |       (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
        |         < 6917529027641081856)
        |ORDER BY doc_id""".stripMargin,

    // Same token/fingerprint/langid derivations as q10/q12/q11, rolled up
    // per source; majority tie-break = (count desc, lang desc), the same
    // order max-of-struct imposes.
    "q83_corpus_report" ->
      s"""WITH base AS (
         |  SELECT source, len($tokensSql)::INT AS ntok, md5($normSql) AS fp,
         |    CASE
         |      WHEN $enHits >= $deHits AND $enHits >= $esHits AND $enHits >= $frHits THEN 'en'
         |      WHEN $deHits >= $esHits AND $deHits >= $frHits THEN 'de'
         |      WHEN $esHits >= $frHits THEN 'es'
         |      ELSE 'fr'
         |    END AS g
         |  FROM documents
         |),
         |agg AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(ntok)::BIGINT AS n_tokens,
         |    count(DISTINCT fp)::BIGINT AS n_distinct_fp,
         |    sum(CASE WHEN ntok < 10 THEN 1 ELSE 0 END)::BIGINT AS n_short_docs
         |  FROM base GROUP BY 1
         |),
         |lc AS (SELECT source, g, count(*) AS n FROM base GROUP BY 1, 2),
         |lm AS (
         |  SELECT source, g AS majority_lang FROM (
         |    SELECT source, g,
         |      row_number() OVER (PARTITION BY source ORDER BY n DESC, g DESC) AS rn
         |    FROM lc) WHERE rn = 1
         |)
         |SELECT a.source, a.n_docs, a.n_tokens, a.n_distinct_fp,
         |  a.n_short_docs, lm.majority_lang
         |FROM agg a JOIN lm USING (source)
         |ORDER BY a.source""".stripMargin,
    // Same "seed:id" md5-64 permutation key; hu % 8 equals Spark's
    // pmod(h, 8) because the shard count is a power of two (low bits of
    // the shared bit pattern), and the within-shard order re-biases the
    // UBIGINT into two's-complement order to match Spark's signed sort.
    "q79_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 16))::UBIGINT AS hu
        |  FROM documents
        |),
        |hs AS (
        |  SELECT doc_id, (hu % 8)::INT AS shard,
        |    CASE WHEN hu >= 9223372036854775808::UBIGINT
        |         THEN hu::HUGEINT - 18446744073709551616::HUGEINT
        |         ELSE hu::HUGEINT END AS hsig
        |  FROM h
        |)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY hsig, doc_id)::INT AS pos
        |FROM hs ORDER BY shard, pos""".stripMargin,
    // Same "7:id" shard rule (power-of-two mod = pmod), same per-row
    // md5-64 of id‖':'‖content-md5 rebiased to two's-complement, folded
    // with bit_xor — order-independent, so no ORDER BY is needed inside
    // the fold for the checksums to match.
    "q192_shard_manifest" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    (('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 16))::UBIGINT % 8)::INT AS shard
        |  FROM documents),
        |x AS (
        |  SELECT shard, doc_id, length(text)::BIGINT AS n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || md5(text)), 1, 16))::UBIGINT AS hu
        |  FROM h),
        |xs AS (
        |  SELECT shard, doc_id, n_chars,
        |    (CASE WHEN hu >= 9223372036854775808::UBIGINT
        |          THEN hu::HUGEINT - 18446744073709551616::HUGEINT
        |          ELSE hu::HUGEINT END)::BIGINT AS hsig
        |  FROM x)
        |SELECT shard, count(*)::BIGINT AS n_rows, sum(n_chars)::BIGINT AS n_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  bit_xor(hsig) AS content_xor
        |FROM xs GROUP BY shard ORDER BY shard""".stripMargin,
    // Kept counts re-derived from the same md5-threshold rule; the spec
    // VALUES and thresholds are GENERATED from the q41/q77 weights list.
    "q77_mix_audit" ->
      s"""WITH spec AS (SELECT * FROM (VALUES ${mixWeights.map {
             case (k, (n, d)) => s"('$k', $n, $d)" }.mkString(", ")})
         |  s(key, mix_num, mix_den)),
         |h AS (SELECT source,
         |  (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)::HUGEINT AS h
         |  FROM documents),
         |totals AS (SELECT source AS key, count(*)::BIGINT AS n_total
         |           FROM documents GROUP BY 1),
         |kept AS (
         |  SELECT source AS key, count(*)::BIGINT AS n_kept
         |  FROM h JOIN spec ON h.source = spec.key
         |  WHERE mix_num = mix_den
         |     OR h.h < (mix_num::HUGEINT * 9223372036854775808::HUGEINT) // mix_den::HUGEINT
         |  GROUP BY 1
         |)
         |SELECT t.key AS key, s.mix_num::BIGINT AS mix_num,
         |  s.mix_den::BIGINT AS mix_den, t.n_total,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept
         |FROM totals t
         |LEFT JOIN spec s ON t.key = s.key
         |LEFT JOIN kept k ON t.key = k.key
         |ORDER BY t.key""".stripMargin,

    // Bloom prune + exact verify returns exactly the exact-join result, so
    // the oracle is the same computation as q35's.
    "q42_bloom_decontamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $tokensSql AS ts FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source, $gram8Sql AS g
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |),
         |bench AS (SELECT DISTINCT g FROM bg WHERE source = 'src0')
         |SELECT doc_id, count(DISTINCT d.g)::BIGINT AS n_contaminated
         |FROM (SELECT doc_id, g FROM bg WHERE source <> 'src0') d
         |JOIN bench USING (g)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Exact distinct-token sets per source replicate the exact-mode theta
    // estimates; all pairs kept (zero-overlap pairs coalesce to 0).
    "q45_source_vocab_overlap" ->
      s"""WITH v AS (SELECT source, unnest($tokensSql) AS t FROM documents),
         |d AS (SELECT DISTINCT source, t FROM v),
         |vocab AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b
         |  FROM vocab a, vocab b WHERE a.source < b.source),
         |sh AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
         |  FROM d a JOIN d b ON a.t = b.t AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b,
         |  va.n::BIGINT AS vocab_a, vb.n::BIGINT AS vocab_b,
         |  coalesce(sh.shared, 0)::BIGINT AS vocab_shared
         |FROM pairs p
         |JOIN vocab va ON p.src_a = va.source
         |JOIN vocab vb ON p.src_b = vb.source
         |LEFT JOIN sh ON p.src_a = sh.src_a AND p.src_b = sh.src_b
         |ORDER BY p.src_a, p.src_b""".stripMargin,

    // Chunk arithmetic replica: starts at 0, 448, 896, ... while < n.
    "q50_chunk_spans" ->
      s"""WITH toks AS (SELECT doc_id, len($tokensSql)::BIGINT AS n FROM documents)
         |SELECT doc_id, i.i::INT AS chunk_idx, (i.i * 448)::BIGINT AS start_token,
         |  least(512, n - i.i * 448)::BIGINT AS len_tokens
         |FROM toks, LATERAL (SELECT unnest(range((n + 447) // 448)) AS i) i
         |WHERE n > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Same synthesized previous release, same md5-of-normalized
    // fingerprints, FULL JOIN + CASE for the status.
    "q119_snapshot_diff" ->
      s"""WITH prev AS (
         |  SELECT doc_id, md5(trim(regexp_replace(lower(
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' [archived revision]'
         |         ELSE text END), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents WHERE doc_id % 17 <> 0),
         |cur AS (
         |  SELECT doc_id, md5($normSql) AS fp
         |  FROM documents WHERE doc_id % 19 <> 0),
         |diff AS (
         |  SELECT doc_id,
         |    CASE WHEN p.doc_id IS NULL THEN 'added'
         |         WHEN c.doc_id IS NULL THEN 'removed'
         |         WHEN p.fp IS NOT DISTINCT FROM c.fp THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM prev p FULL JOIN cur c USING (doc_id))
         |SELECT d.source, f.status, count(*)::BIGINT AS n
         |FROM diff f JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

    // Brute-force re-derivation of the broadcast contamination pass: per
    // non-eval vector, how many label-7 vectors clear the cosine gate.
    "q117_semantic_decontam" ->
      """SELECT t.vec_id AS vec_id, count(*)::BIGINT AS n_eval_hits
        |FROM embeddings t JOIN embeddings e
        |  ON e.label = 7 AND t.label <> 7
        | AND list_cosine_similarity(t.embedding, e.embedding) >= 0.35
        |GROUP BY 1 ORDER BY vec_id""".stripMargin,

    // Batch re-derivation of the streaming ingest view: scrub, the q85
    // md5-bucket model score gate, then min-id + count per fingerprint of
    // the scrubbed text.
    "q118_streaming_ingest" ->
      s"""WITH cleaned AS (SELECT doc_id, $scrubSql AS text FROM documents),
         |gated AS (
         |  SELECT doc_id, text FROM cleaned
         |  WHERE coalesce(list_sum(list_transform($tokensSql,
         |      t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |             & 2047::UBIGINT)::BIGINT - 1024))), 0) >= 0),
         |fps AS (SELECT doc_id, md5($normSql) AS fp FROM gated)
         |SELECT min(doc_id)::BIGINT AS doc_id, fp, count(*)::BIGINT AS n_dups
         |FROM fps GROUP BY fp ORDER BY doc_id""".stripMargin,

    // 8-token grams on both sides; count distinct shared grams per doc.
    "q35_decontamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $tokensSql AS ts FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source, $gram8Sql AS g
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |),
         |bench AS (SELECT DISTINCT g FROM bg WHERE source = 'src0')
         |SELECT doc_id, count(DISTINCT d.g)::BIGINT AS n_contaminated
         |FROM (SELECT doc_id, g FROM bg WHERE source <> 'src0') d
         |JOIN bench USING (g)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Lines = '\n' fields (string_split keeps empties, matching the kernel);
    // bigrams = adjacent lowercase tokens joined with one space.
    "q34_text_repetition" ->
      s"""WITH corpus AS (SELECT * FROM documents),
         |$lineStatsSql,
         |toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |$bigramStatsSql
         |SELECT d.doc_id,
         |  coalesce(n_lines, 0)::INT AS n_lines,
         |  coalesce(dup_lines, 0)::INT AS dup_lines,
         |  coalesce(dup_line_chars, 0)::INT AS dup_line_chars,
         |  coalesce(n_bigrams, 0)::INT AS n_bigrams,
         |  coalesce(top_bigram, 0)::INT AS top_bigram
         |FROM documents d
         |LEFT JOIN line_stats USING (doc_id)
         |LEFT JOIN bg_stats USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // Word-3-grams re-derived relationally; the top gram's tie-break
    // (count DESC, gram ASC in DuckDB's binary string order) is exactly
    // the kernel's UTF-8-byte-wise rule, so top_ngram_chars is
    // deterministic cross-engine.
    "q111_ngram_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |g3 AS (
         |  SELECT doc_id, ts[i.i::INT] || ' ' || ts[(i.i + 1)::INT]
         |    || ' ' || ts[(i.i + 2)::INT] AS g
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) i
         |),
         |gc AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         |st AS (
         |  SELECT doc_id, sum(c)::INT AS n_ngrams,
         |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::INT AS dup_ngrams,
         |    sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)::INT AS dup_ngram_chars
         |  FROM gc GROUP BY 1),
         |tp AS (
         |  SELECT doc_id, c::INT AS top_ngram, (c * length(g))::INT AS top_ngram_chars
         |  FROM (SELECT doc_id, g, c, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
         |        FROM gc) WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(n_ngrams, 0)::INT AS n_ngrams,
         |  coalesce(top_ngram, 0)::INT AS top_ngram,
         |  coalesce(top_ngram_chars, 0)::INT AS top_ngram_chars,
         |  coalesce(dup_ngrams, 0)::INT AS dup_ngrams,
         |  coalesce(dup_ngram_chars, 0)::INT AS dup_ngram_chars
         |FROM documents d
         |LEFT JOIN st USING (doc_id)
         |LEFT JOIN tp USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q13_dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS canonical_id, count(*)::BIGINT AS n_copies
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    // The streaming dedup's emitted set = the distinct fingerprints (one
    // emission per first arrival; see the q90 query comment).
    "q90_streaming_dedup" ->
      s"""SELECT DISTINCT md5($normSql) AS fp FROM documents ORDER BY fp""",
    "q14_dedup_minhash" -> minhashNearDupOracleSql,
    // The STREAMING LSH index + batch verify must land on the exact same
    // near-dup pair set as the batch path — one definitional oracle, two
    // execution engines (see the q102 query comment).
    "q102_streaming_neardup" -> minhashNearDupOracleSql,
    // The same definitional pair set rolled up to normalized source cells.
    "q184_neardup_flow" ->
      s"""WITH $minhashNearDupCteSql,
         |j AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM ndpairs p
         |  JOIN documents da ON p.id_a = da.doc_id
         |  JOIN documents db ON p.id_b = db.doc_id)
         |SELECT src_a, src_b, count(*)::BIGINT AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The DEFINITIONAL all-pairs word-3-gram Jaccard — no prefix filter on
    // the oracle side, so a row-for-row match proves the Spark-side prefix
    // filtering lossless (its entire contract). Gram identity is the same
    // auditable md5-64 hash the Spark kernel uses (equality is all that
    // matters, so DuckDB's UBIGINT view of the same 8 bytes is equivalent).
    "q59_ngram_jaccard" -> ngramJaccardOracleSql(),
    // The identity-collapsed mode must reproduce the SAME definitional
    // answer over the dup-carrying slice — one oracle template, two
    // Spark plans.
    "q76_ngram_jaccard_collapsed" -> ngramJaccardOracleSql(
      s"WHERE source IN (${dupSources.map(s => s"'$s'").mkString(", ")})"),
    // Re-derives every PPJoin stage: same md5-64 gram hashes viewed as
    // SIGNED 64-bit for ordering (Spark sorts longs; the CASE re-biases
    // DuckDB's UBIGINT into two's-complement order), same (df, gram)
    // global rank, same integer prefix length (sz·(den−num))//den + 1,
    // same length and aggregated positional/suffix filters.
    "q75_ppjoin_stats" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    ('0x' || substr(md5(ts[i.i::INT] || ' ' || ts[(i.i + 1)::INT]
         |      || ' ' || ts[(i.i + 2)::INT]), 1, 16))::UBIGINT AS g
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i) i
         |),
         |gs AS (
         |  SELECT doc_id,
         |    CASE WHEN g >= 9223372036854775808::UBIGINT
         |         THEN g::HUGEINT - 18446744073709551616::HUGEINT
         |         ELSE g::HUGEINT END AS gsig
         |  FROM g
         |),
         |ranked AS (
         |  SELECT doc_id, gsig, sz,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY df, gsig) AS pos
         |  FROM (
         |    SELECT doc_id, gsig,
         |      count(*) OVER (PARTITION BY gsig) AS df,
         |      count(*) OVER (PARTITION BY doc_id) AS sz
         |    FROM gs)
         |),
         |prefix AS (SELECT * FROM ranked WHERE pos <= (sz * 1) // 2 + 1),
         |grp AS (SELECT gsig, count(*) AS m FROM prefix GROUP BY 1),
         |coll AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
         |         a.sz AS sza, b.sz AS szb
         |  FROM prefix a JOIN prefix b ON a.gsig = b.gsig AND a.doc_id < b.doc_id
         |),
         |cand AS (
         |  SELECT id_a, id_b, count(*) AS k, max(pa) AS pa, max(pb) AS pb,
         |         max(sza) AS sza, max(szb) AS szb,
         |         max(CASE WHEN
         |               (sza <= szb AND pa <= sza - (2 * sza + 2) // 3 + 1)
         |            OR (szb <= sza AND pb <= szb - (2 * szb + 2) // 3 + 1)
         |             THEN 1 ELSE 0 END) AS idxhit
         |  FROM coll
         |  WHERE greatest(sza, szb) * 1 <= least(sza, szb) * 2
         |  GROUP BY 1, 2
         |),
         |candf AS (SELECT * FROM cand
         |          WHERE idxhit = 1
         |            AND (k + least(sza - pa, szb - pb)) * 3 >= (sza + szb) * 1),
         |pair_inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM gs a JOIN gs b ON a.gsig = b.gsig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*) AS n FROM gs GROUP BY 1)
         |SELECT
         |  (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         |  (SELECT count(DISTINCT doc_id) FROM gs)::BIGINT AS n_docs_with_grams,
         |  (SELECT count(*) FROM gs)::BIGINT AS n_gram_rows,
         |  (SELECT coalesce(sum(m), 0) FROM grp)::BIGINT AS n_prefix_rows,
         |  (SELECT count(*) FROM grp WHERE m > 1)::BIGINT AS n_hot_grams,
         |  (SELECT coalesce(max(m), 0) FROM grp)::BIGINT AS largest_group,
         |  (SELECT coalesce(sum(m * (m - 1) // 2), 0) FROM grp)::BIGINT AS n_collisions,
         |  (SELECT count(*) FROM coll
         |   WHERE greatest(sza, szb) * 1 <= least(sza, szb) * 2)::BIGINT AS n_length_pass,
         |  (SELECT count(*) FROM candf)::BIGINT AS n_candidates,
         |  (SELECT count(*) FROM pair_inter
         |   JOIN sizes sa ON id_a = sa.doc_id
         |   JOIN sizes sb ON id_b = sb.doc_id
         |   WHERE inter * 2 >= (sa.n + sb.n - inter) * 1)::BIGINT AS n_pairs""".stripMargin,
    // Same fixed-point arithmetic: `//` on positive BIGINTs is the same
    // integer division Spark's `div` computes — both engines stay in
    // integers, no 2^53 double-mantissa bound anywhere.
    "q60_tfidf_terms" ->
      s"""WITH toks AS (SELECT doc_id, source, unnest($tokensSql) AS t FROM documents),
         |tf AS (SELECT source, t, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
         |scored AS (
         |  SELECT source, t, tf, df, tf * ((n * 1000000) // df) AS score
         |  FROM tf JOIN dfreq USING (t), tot
         |)
         |SELECT source, rank::INT AS rank, t AS term, tf, df, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY score DESC, t) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // Same 16-token windows, same md5-64 hash (DuckDB's UBIGINT view of
    // the identical 8 bytes — only counts cross the engine boundary).
    "q64_repeated_spans" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(DISTINCT doc_id) > 1)
         |SELECT doc_id, count(*)::BIGINT AS n_repeated_spans,
         |  min(start)::BIGINT AS first_repeated_start
         |FROM sp JOIN rep USING (gh)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Same cosine, same ratio margin, same tie rules; neighborhood
    // averages via ORDERED sums (cos desc) matching the engine's
    // sorted-array fold, so the double margins agree bit-for-bit and the
    // integer outputs (ids, raw-cos rank) compare exactly.
    "q189_margin_bitext" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding FROM embeddings WHERE label % 2 = 0),
        |b AS (SELECT vec_id AS b_id, embedding FROM embeddings WHERE label % 2 = 1),
        |sc AS (
        |  SELECT a_id, b_id,
        |    list_cosine_similarity(a.embedding, b.embedding) AS cos
        |  FROM a, b),
        |ra AS (
        |  SELECT a_id, sum(cos ORDER BY cos DESC) / count(*) AS avg_a FROM (
        |    SELECT a_id, cos,
        |      row_number() OVER (PARTITION BY a_id ORDER BY cos DESC) AS rn
        |    FROM sc) WHERE rn <= 4 GROUP BY 1),
        |rb AS (
        |  SELECT b_id, sum(cos ORDER BY cos DESC) / count(*) AS avg_b FROM (
        |    SELECT b_id, cos,
        |      row_number() OVER (PARTITION BY b_id ORDER BY cos DESC) AS rn
        |    FROM sc) WHERE rn <= 4 GROUP BY 1),
        |m AS (
        |  SELECT s.a_id, s.b_id, s.cos,
        |    s.cos / ((ra.avg_a + rb.avg_b) / 2) AS margin
        |  FROM sc s JOIN ra USING (a_id) JOIN rb USING (b_id)),
        |pick AS (
        |  SELECT a_id, b_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a_id
        |      ORDER BY margin DESC, b_id) AS mr FROM m)
        |  WHERE mr = 1)
        |SELECT p.a_id, p.b_id,
        |  (1 + count(*) FILTER (WHERE s.cos > p.cos
        |     OR (s.cos = p.cos AND s.b_id < p.b_id)))::INT AS cos_rank
        |FROM pick p JOIN sc s USING (a_id)
        |GROUP BY 1, 2 ORDER BY a_id""".stripMargin,
    // q64's windows and hash + q30's deterministic split rule: a span
    // leaks iff its hash occurs in >= 2 distinct splits.
    "q188_split_leakage_audit" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         |assign AS (SELECT doc_id,
         |  CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
         |         < 7378697629483820646::UBIGINT THEN 'train'
         |       WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
         |         < 8301034833169298227::UBIGINT THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents),
         |spl AS (SELECT s.doc_id, s.start, s.gh, a.split
         |        FROM sp s JOIN rep USING (gh) JOIN assign a USING (doc_id)),
         |leaky AS (SELECT gh FROM spl GROUP BY gh HAVING count(DISTINCT split) > 1)
         |SELECT doc_id, split, count(*)::BIGINT AS n_leaky_spans,
         |  min(start)::BIGINT AS first_leaky_start
         |FROM spl JOIN leaky USING (gh)
         |GROUP BY 1, 2 ORDER BY doc_id, split""".stripMargin,
    // Same spans and keeper rule as q64's windows: first (doc_id, start)
    // per repeated hash survives, every other occurrence's 16 positions
    // are removed (coverage union), and the cleaned token stream is
    // rebuilt in position order and fingerprinted.
    "q78_span_scrub" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         |occ AS (
         |  SELECT doc_id, start,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, start) AS rn
         |  FROM sp JOIN rep USING (gh)
         |),
         |rem AS (SELECT doc_id, start FROM occ WHERE rn > 1),
         |pos AS (
         |  SELECT t.doc_id, p.p AS p, ts[p.p::INT] AS tok
         |  FROM toks t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS p) p
         |),
         |kept AS (
         |  SELECT doc_id, p, tok FROM pos t
         |  WHERE NOT EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id
         |                    AND t.p BETWEEN r.start AND r.start + 15)
         |),
         |agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM kept GROUP BY 1
         |),
         |tot AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM toks)
         |SELECT d.doc_id, t.n_tokens,
         |  (t.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM documents d
         |JOIN tot t USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // The q243/q245 coverage machinery with batch-vs-corpus roles: a
    // batch window is covered iff its md5 appears among the corpus's
    // window hashes; islands at the <= 16 gap rule; batch docs only.
    "q247_incremental_substr_scrub" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS ts FROM documents),
         |batch AS (SELECT doc_id, ts FROM toks
         |          WHERE source IN ('src11', 'src12')),
         |seen AS (
         |  SELECT DISTINCT ('0x' || substr(md5(array_to_string(
         |      ts[(i.i)::INT:(i.i + 15)::INT], ' ')), 1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |  WHERE source NOT IN ('src11', 'src12')
         |),
         |occ AS (
         |  SELECT doc_id, i.i AS start
         |  FROM batch b, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |  WHERE ('0x' || substr(md5(array_to_string(
         |      ts[(i.i)::INT:(i.i + 15)::INT], ' ')), 1, 16))::UBIGINT
         |    IN (SELECT gh FROM seen)
         |),
         |lagd AS (
         |  SELECT doc_id, start,
         |    lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM occ
         |),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev IS NULL OR start - prev <= 16 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM lagd
         |),
         |spn AS (SELECT doc_id, count(DISTINCT g)::BIGINT AS n_spans
         |        FROM isl GROUP BY 1),
         |pos AS (
         |  SELECT b.doc_id, p.p AS p, ts[p.p::INT] AS tok
         |  FROM batch b, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS p) p
         |),
         |kept AS (
         |  SELECT doc_id, p, tok FROM pos t
         |  WHERE NOT EXISTS (SELECT 1 FROM occ r WHERE r.doc_id = t.doc_id
         |                    AND t.p BETWEEN r.start AND r.start + 15)
         |),
         |agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM kept GROUP BY 1
         |),
         |tot AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM batch)
         |SELECT b.doc_id, t.n_tokens,
         |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
         |  (t.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM batch b
         |JOIN tot t USING (doc_id)
         |LEFT JOIN spn s USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // The q243 coverage machinery at w = 8, matched against the src0
    // benchmark's window-hash set instead of cross-doc repetition;
    // corpus docs only.
    "q245_decontamination_scrub" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS ts FROM documents),
         |corpus AS (SELECT doc_id, ts FROM toks WHERE source <> 'src0'),
         |bench AS (
         |  SELECT DISTINCT ('0x' || substr(md5(array_to_string(
         |      ts[(i.i)::INT:(i.i + 7)::INT], ' ')), 1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |  WHERE source = 'src0'
         |),
         |occ AS (
         |  SELECT doc_id, i.i AS start
         |  FROM corpus c, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |  WHERE ('0x' || substr(md5(array_to_string(
         |      ts[(i.i)::INT:(i.i + 7)::INT], ' ')), 1, 16))::UBIGINT
         |    IN (SELECT gh FROM bench)
         |),
         |lagd AS (
         |  SELECT doc_id, start,
         |    lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM occ
         |),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev IS NULL OR start - prev <= 8 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM lagd
         |),
         |spn AS (SELECT doc_id, count(DISTINCT g)::BIGINT AS n_spans
         |        FROM isl GROUP BY 1),
         |pos AS (
         |  SELECT c.doc_id, p.p AS p, ts[p.p::INT] AS tok
         |  FROM corpus c, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS p) p
         |),
         |kept AS (
         |  SELECT doc_id, p, tok FROM pos t
         |  WHERE NOT EXISTS (SELECT 1 FROM occ r WHERE r.doc_id = t.doc_id
         |                    AND t.p BETWEEN r.start AND r.start + 7)
         |),
         |agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM kept GROUP BY 1
         |),
         |tot AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM corpus)
         |SELECT c.doc_id, t.n_tokens,
         |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
         |  (t.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM corpus c
         |JOIN tot t USING (doc_id)
         |LEFT JOIN spn s USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    // q64's windows, hash, and cross-doc rule; islands by the identical
    // gap predicate (start - prev <= 16 continues a covered run —
    // overlap or exact adjacency), maximal spans as (min, max + w - 1)
    // per island.
    "q242_exact_substr_spans" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         |occ AS (SELECT doc_id, start FROM sp JOIN rep USING (gh)),
         |lagd AS (
         |  SELECT doc_id, start,
         |    lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM occ
         |),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev IS NULL OR start - prev <= 16 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM lagd
         |)
         |SELECT doc_id, min(start)::BIGINT AS span_start,
         |  (max(start) + 16 - min(start))::BIGINT AS span_len
         |FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin,
    // q243's chain with the repeat rule widened to TOTAL occurrences
    // (HAVING count(*) > 1): within-doc repeats qualify.
    "q248_exact_substr_self" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(*) > 1),
         |occ AS (SELECT doc_id, start FROM sp JOIN rep USING (gh)),
         |lagd AS (
         |  SELECT doc_id, start,
         |    lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM occ
         |),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev IS NULL OR start - prev <= 16 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM lagd
         |),
         |spn AS (SELECT doc_id, count(DISTINCT g)::BIGINT AS n_spans
         |        FROM isl GROUP BY 1),
         |pos AS (
         |  SELECT t.doc_id, p.p AS p, ts[p.p::INT] AS tok
         |  FROM toks t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS p) p
         |),
         |kept AS (
         |  SELECT doc_id, p, tok FROM pos t
         |  WHERE NOT EXISTS (SELECT 1 FROM occ r WHERE r.doc_id = t.doc_id
         |                    AND t.p BETWEEN r.start AND r.start + 15)
         |),
         |agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM kept GROUP BY 1
         |),
         |tot AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM toks)
         |SELECT d.doc_id, t.n_tokens,
         |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
         |  (t.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM documents d
         |JOIN tot t USING (doc_id)
         |LEFT JOIN spn s USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // Same duplicated occurrences; coverage removal WITHOUT the keeper
    // exemption (every occurrence excised — q78 keeps the corpus-wide
    // first), plus the per-doc island count.
    "q243_exact_substr_scrub" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |sp AS (
         |  SELECT doc_id, i.i AS start,
         |    ('0x' || substr(md5(array_to_string(ts[(i.i)::INT:(i.i + 15)::INT], ' ')),
         |      1, 16))::UBIGINT AS gh
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 14)) AS i) i
         |),
         |rep AS (SELECT gh FROM sp GROUP BY gh HAVING count(DISTINCT doc_id) > 1),
         |occ AS (SELECT doc_id, start FROM sp JOIN rep USING (gh)),
         |lagd AS (
         |  SELECT doc_id, start,
         |    lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
         |  FROM occ
         |),
         |isl AS (
         |  SELECT doc_id, start,
         |    sum(CASE WHEN prev IS NULL OR start - prev <= 16 THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY doc_id ORDER BY start
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM lagd
         |),
         |spn AS (SELECT doc_id, count(DISTINCT g)::BIGINT AS n_spans
         |        FROM isl GROUP BY 1),
         |pos AS (
         |  SELECT t.doc_id, p.p AS p, ts[p.p::INT] AS tok
         |  FROM toks t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS p) p
         |),
         |kept AS (
         |  SELECT doc_id, p, tok FROM pos t
         |  WHERE NOT EXISTS (SELECT 1 FROM occ r WHERE r.doc_id = t.doc_id
         |                    AND t.p BETWEEN r.start AND r.start + 15)
         |),
         |agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
         |  FROM kept GROUP BY 1
         |),
         |tot AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens FROM toks)
         |SELECT d.doc_id, t.n_tokens,
         |  coalesce(s.n_spans, 0)::BIGINT AS n_spans,
         |  (t.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(a.clean_fp, md5('')) AS clean_fp
         |FROM documents d
         |JOIN tot t USING (doc_id)
         |LEFT JOIN spn s USING (doc_id)
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q63_containment_pairs" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS ts FROM documents),
         |bg AS (
         |  SELECT DISTINCT doc_id, source, $gram8Sql AS g
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) i
         |),
         |bench AS (SELECT doc_id AS bench_id, g FROM bg WHERE source = 'src0'),
         |bsz AS (SELECT bench_id, count(*)::BIGINT AS bench_grams FROM bench GROUP BY 1),
         |pairs AS (
         |  SELECT c.doc_id, b.bench_id, count(*)::BIGINT AS inter
         |  FROM (SELECT doc_id, g FROM bg WHERE source <> 'src0') c
         |  JOIN bench b USING (g) GROUP BY 1, 2
         |)
         |SELECT p.doc_id, p.bench_id, p.inter, s.bench_grams
         |FROM pairs p JOIN bsz s USING (bench_id)
         |WHERE p.inter * 2 >= s.bench_grams * 1
         |ORDER BY doc_id, bench_id""".stripMargin,
    "q72_boilerplate_lines" ->
      """WITH lines AS (
        |  SELECT doc_id, ('0x' || substr(md5(trim(line)), 1, 16))::UBIGINT AS lh
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |        FROM documents)
        |  WHERE trim(line) <> ''
        |),
        |hot AS (SELECT lh FROM lines GROUP BY lh HAVING count(DISTINCT doc_id) >= 3),
        |per_doc AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM lines GROUP BY 1),
        |boiler AS (
        |  SELECT doc_id, count(*)::BIGINT AS n FROM lines JOIN hot USING (lh) GROUP BY 1
        |)
        |SELECT p.doc_id, p.n_lines, coalesce(b.n, 0)::BIGINT AS n_boilerplate_lines
        |FROM per_doc p LEFT JOIN boiler b USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    // Exact mode ⇒ the estimates ARE the true distinct counts.
    "q71_join_size_estimate" ->
      """SELECT
        |  (SELECT count(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderpriority = '1-URGENT')::BIGINT AS n_urgent_orders,
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem
        |   WHERE l_shipdate >= DATE '1995-07-01')::BIGINT AS n_recent_orders,
        |  (SELECT count(DISTINCT o_orderkey) FROM orders JOIN lineitem
        |     ON o_orderkey = l_orderkey
        |   WHERE o_orderpriority = '1-URGENT'
        |     AND l_shipdate >= DATE '1995-07-01')::BIGINT AS est_join_keys""".stripMargin,
    "q70_source_dup_stats" ->
      s"""WITH fp AS (SELECT source, md5($normSql) AS fp FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT fp)::BIGINT AS n_distinct,
         |  (count(*) - count(DISTINCT fp))::BIGINT AS n_redundant
         |FROM fp GROUP BY 1 ORDER BY source""".stripMargin,
    "q61_incremental_dedup" ->
      s"""WITH bfp AS (
         |  SELECT doc_id, md5($normSql) AS fp FROM documents
         |  WHERE source IN ('src11', 'src12')
         |),
         |cfp AS (
         |  SELECT DISTINCT md5($normSql) AS fp FROM documents
         |  WHERE source NOT IN ('src11', 'src12')
         |)
         |SELECT min(doc_id) AS doc_id, fp
         |FROM bfp b WHERE NOT EXISTS (SELECT 1 FROM cfp c WHERE c.fp = b.fp)
         |GROUP BY fp ORDER BY doc_id""".stripMargin,
    // Recompute every simhash from scratch: md5-derived 64-bit token hashes
    // vote per bit (strict majority), then exhaustive all-pairs Hamming.
    // Unsigned vs signed 64-bit makes no difference — xor/bit_count act on
    // the bit pattern, which the Spark kernel shares byte-for-byte.
    "q15_dedup_simhash" ->
      s"""WITH $simhashCtesSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sim, b.sim))::INT AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // Definitional batch×corpus Hamming join over the same auditable
    // simhashes — SQS(8) completeness means zero misses are tolerated.
    "q108_incremental_simhash" ->
      s"""WITH $simhashCtesSql
         |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |  bit_count(xor(b.sim, c.sim))::INT AS hamming
         |FROM sim b, sim c, documents db, documents dc
         |WHERE db.doc_id = b.doc_id AND dc.doc_id = c.doc_id
         |  AND db.source IN ('src11', 'src12')
         |  AND dc.source NOT IN ('src11', 'src12')
         |  AND bit_count(xor(b.sim, c.sim)) <= 3
         |ORDER BY batch_id, corpus_id""".stripMargin,
    // Re-derives the SAME md5-auditable simhashes, then the 14 SQS(8)
    // band keys bit-for-bit (the band expressions are GENERATED from
    // Dedup.Sqs8Blocks, so oracle and kernel cannot disagree about the
    // block design), groups buckets, and applies the same cap — auditing
    // the drop ACCOUNTING itself, not just the surviving pairs.
    "q74_simhash_bucket_stats" ->
      s"""WITH $simhashCtesSql,
         |banded AS (
         |${sqs8BandSelectsSql}
         |),
         |grp AS (SELECT band, v, count(*) AS n FROM banded GROUP BY 1, 2)
         |SELECT count(*)::BIGINT AS n_buckets,
         |  coalesce(sum(CASE WHEN n > 3 THEN 1 ELSE 0 END), 0)::BIGINT AS buckets_dropped,
         |  coalesce(max(n), 0)::BIGINT AS largest_bucket
         |FROM grp""".stripMargin,
    // Full auditable-MinHash re-derivation (see the q92 harness comment).
    // h_i(x) = a_i·md5_64(x) + b_i mod 2^64: the multiply splits into
    // 32-bit halves so every intermediate fits HUGEINT; minima compare as
    // SIGNED 64-bit values (the CASE re-bias), matching the kernel's Long
    // order; band key = md5_64("band,v1,..,v4") with signed decimals.
    "q92_lsh_bucket_stats" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
         |),
         |base AS (
         |  SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h FROM sh
         |),
         |co(i, a, b) AS (VALUES
         |$minhash16CoeffRowsSql),
         |sig AS (
         |  SELECT doc_id, i,
         |    min((((a * ((h & 4294967295::UBIGINT))::HUGEINT
         |           + ((a * ((h >> 32))::HUGEINT) % 4294967296) * 4294967296
         |           + b) % 18446744073709551616)
         |         + CASE WHEN ((a * ((h & 4294967295::UBIGINT))::HUGEINT
         |             + ((a * ((h >> 32))::HUGEINT) % 4294967296) * 4294967296
         |             + b) % 18446744073709551616) >= 9223372036854775808
         |           THEN -18446744073709551616 ELSE 0 END)::BIGINT) AS v
         |  FROM base, co
         |  GROUP BY 1, 2
         |),
         |keys AS (
         |  SELECT doc_id, (i // 4) AS band,
         |    (i // 4)::VARCHAR || ',' || string_agg(v::VARCHAR, ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, (i // 4)
         |),
         |grp AS (
         |  SELECT band, ('0x' || substr(md5(key), 1, 16))::UBIGINT AS bucket,
         |    count(*) AS n
         |  FROM keys GROUP BY 1, 2
         |)
         |SELECT count(*)::BIGINT AS n_buckets,
         |  coalesce(sum(CASE WHEN n > 2 THEN 1 ELSE 0 END), 0)::BIGINT AS buckets_dropped,
         |  coalesce(max(n), 0)::BIGINT AS largest_bucket
         |FROM grp""".stripMargin,
    "q16_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "q17_ann_topk" -> annExactSql,
    // Nearest same-label (self excluded) at rank 1 joined with the q137
    // ranking's top 2 — the identical two constrained rankings.
    "q148_contrastive_triplets" ->
      """WITH pos AS (
        |  SELECT query_id, neighbor_id AS positive_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rn
        |    FROM embeddings q JOIN embeddings c
        |      ON q.label = c.label AND q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 10) WHERE rn = 1),
        |neg AS (
        |  SELECT query_id, rank, neighbor_id AS negative_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                 c.vec_id ASC) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.label <> c.label
        |    WHERE q.vec_id < 10) WHERE rank <= 2)
        |SELECT p.query_id, p.positive_id, n.rank::INT AS neg_rank, n.negative_id
        |FROM pos p JOIN neg n USING (query_id)
        |ORDER BY query_id, neg_rank""".stripMargin,
    // q17's exact ranking with the per-anchor different-label constraint.
    "q137_hard_negatives" ->
      """SELECT query_id, rank::INT AS rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.label <> c.label
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // A byte's high nibble IS its first hex digit, so the bin of byte i is
    // the hex char at position 2i-1 of the blob's hex encoding.
    "q26_multimodal_features" ->
      """WITH bytes AS (
        |  SELECT doc_id, unnest(range(1, octet_length(encode(text)) + 1)) AS i,
        |         hex(encode(text)) AS h
        |  FROM documents
        |),
        |bins AS (
        |  SELECT doc_id,
        |    (ord(substr(h, (2*i-1)::INT, 1)) -
        |     CASE WHEN substr(h, (2*i-1)::INT, 1) <= '9' THEN 48 ELSE 55 END) AS bin
        |  FROM bytes
        |)
        |SELECT d.doc_id AS doc_id, b.bin::INT AS bin, coalesce(c.n, 0)::INT AS n
        |FROM documents d
        |CROSS JOIN (SELECT unnest(range(16)) AS bin) b
        |LEFT JOIN (SELECT doc_id, bin, count(*) AS n FROM bins GROUP BY 1, 2) c
        |  ON d.doc_id = c.doc_id AND b.bin = c.bin
        |ORDER BY d.doc_id, b.bin""".stripMargin,
    // Stub-decode geometry (w/h from byte length) scaled into a 64px box
    // with floor division; sampled byte j = (i*n)//m (0-based) read out of
    // the blob's hex encoding like q18/q26.
    "q47_multimodal_resize" ->
      """WITH base AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS n,
        |         hex(encode(text)) AS hx,
        |         (64 + octet_length(encode(text)) % 512)::BIGINT AS w,
        |         (64 + (octet_length(encode(text)) // 2) % 512)::BIGINT AS h
        |  FROM documents
        |),
        |geo AS (
        |  SELECT doc_id, n, hx, w, h,
        |    greatest(1, (w * 64) // greatest(w, h)) AS out_w,
        |    greatest(1, (h * 64) // greatest(w, h)) AS out_h
        |  FROM base
        |)
        |SELECT doc_id, w::INT AS src_w, h::INT AS src_h,
        |  out_w::INT AS out_w, out_h::INT AS out_h,
        |  coalesce(list_sum(list_transform(range(least(n, out_w)),
        |    i -> 16 * (ord(substr(hx, (2 * ((i * n) // least(n, out_w)) + 1)::INT, 1)) -
        |           CASE WHEN substr(hx, (2 * ((i * n) // least(n, out_w)) + 1)::INT, 1) <= '9'
        |                THEN 48 ELSE 55 END)
        |       + (ord(substr(hx, (2 * ((i * n) // least(n, out_w)) + 2)::INT, 1)) -
        |           CASE WHEN substr(hx, (2 * ((i * n) // least(n, out_w)) + 2)::INT, 1) <= '9'
        |                THEN 48 ELSE 55 END))), 0)::BIGINT AS sample_checksum
        |FROM geo ORDER BY doc_id""".stripMargin,

    // Frame geometry is pure arithmetic over the payload byte length.
    "q31_multimodal_frames" ->
      """SELECT doc_id, f.f::INT AS frame_idx, (f.f * 1024)::INT AS frame_offset,
        |  least(1024, octet_length(encode(text)) - f.f * 1024)::INT AS frame_len
        |FROM documents,
        |  LATERAL (SELECT unnest(range(0, ((octet_length(encode(text)) + 1023) // 1024), 3)) AS f) f
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Recomputes the absmax int8 quantization in pure SQL: scale = amax/127,
    // code = floor(x/scale + 0.5) clamped — all IEEE-double ops, so codes
    // match the Spark kernel bit-for-bit.
    // q32's quantizer, then per-(label, dim) integer sums (prev = the
    // vec_id % 10 != 0 subset) reduced to dot/norm integers per label.
    "q193_embedding_drift" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, (vec_id % 10 != 0) AS prev, i.i AS dim,
        |    (CASE WHEN amax = 0 THEN 0
        |          ELSE CAST(least(greatest(
        |            floor(embedding[(i.i + 1)::INT]::DOUBLE / (amax / 127) + 0.5),
        |            -127.0), 127.0) AS BIGINT) END) AS qv
        |  FROM base, LATERAL (SELECT unnest(range(len(embedding))) AS i) i),
        |cd AS (
        |  SELECT label, dim,
        |    sum(CASE WHEN prev THEN qv ELSE 0 END)::BIGINT AS sa,
        |    sum(qv)::BIGINT AS sb
        |  FROM q GROUP BY label, dim),
        |g AS (
        |  SELECT label, sum(sa * sb)::BIGINT AS dot,
        |    sum(sa * sa)::BIGINT AS norm_prev2,
        |    sum(sb * sb)::BIGINT AS norm_curr2
        |  FROM cd GROUP BY label),
        |c AS (
        |  SELECT label, count(*)::BIGINT AS n_curr,
        |    sum(CASE WHEN vec_id % 10 != 0 THEN 1 ELSE 0 END)::BIGINT AS n_prev
        |  FROM embeddings GROUP BY label)
        |SELECT c.label, n_curr, n_prev, dot, norm_prev2, norm_curr2
        |FROM c JOIN g USING (label) ORDER BY c.label""".stripMargin,
    // Group sizes over the QI tuple, then each threshold is a conditional
    // sum over the size table — one UNION ALL row per k.
    "q194_k_anonymity" ->
      """WITH s AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 1000.0)::BIGINT AS ab, count(*)::BIGINT AS gsz
        |  FROM customer GROUP BY 1, 2, 3
        |),
        |st AS (
        |  SELECT min(gsz)::BIGINT AS min_group_size, count(*)::BIGINT AS n_groups,
        |    sum(CASE WHEN gsz < 2 THEN gsz ELSE 0 END)::BIGINT AS r2,
        |    sum(CASE WHEN gsz < 2 THEN 1 ELSE 0 END)::BIGINT AS g2,
        |    sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END)::BIGINT AS r5,
        |    sum(CASE WHEN gsz < 5 THEN 1 ELSE 0 END)::BIGINT AS g5,
        |    sum(CASE WHEN gsz < 10 THEN gsz ELSE 0 END)::BIGINT AS r10,
        |    sum(CASE WHEN gsz < 10 THEN 1 ELSE 0 END)::BIGINT AS g10,
        |    sum(CASE WHEN gsz < 20 THEN gsz ELSE 0 END)::BIGINT AS r20,
        |    sum(CASE WHEN gsz < 20 THEN 1 ELSE 0 END)::BIGINT AS g20
        |  FROM s
        |)
        |SELECT * FROM (
        |  SELECT 2 AS k, r2 AS rows_below_k, g2 AS groups_below_k,
        |    min_group_size, n_groups FROM st
        |  UNION ALL SELECT 5, r5, g5, min_group_size, n_groups FROM st
        |  UNION ALL SELECT 10, r10, g10, min_group_size, n_groups FROM st
        |  UNION ALL SELECT 20, r20, g20, min_group_size, n_groups FROM st
        |) ORDER BY k""".stripMargin,
    // The q83 language-guess CASE as annotator B; kappa as the exact
    // rational (NxA - S, N^2 - S) — no integer division of a possibly
    // negative numerator on either engine.
    "q195_label_kappa" ->
      s"""WITH base AS (
         |  SELECT lang AS la,
         |    CASE
         |      WHEN $enHits >= $deHits AND $enHits >= $esHits AND $enHits >= $frHits THEN 'en'
         |      WHEN $deHits >= $esHits AND $deHits >= $frHits THEN 'de'
         |      WHEN $esHits >= $frHits THEN 'es'
         |      ELSE 'fr'
         |    END AS lb
         |  FROM documents
         |),
         |conf AS (SELECT la, lb, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
         |n AS (SELECT coalesce(sum(c), 0)::BIGINT AS n FROM conf),
         |ag AS (SELECT coalesce(sum(CASE WHEN la = lb THEN c END), 0)::BIGINT AS n_agree FROM conf),
         |ra AS (SELECT la, sum(c)::BIGINT AS r FROM conf GROUP BY 1),
         |cb AS (SELECT lb, sum(c)::BIGINT AS cc FROM conf GROUP BY 1),
         |s AS (SELECT coalesce(sum(r * cc), 0)::BIGINT AS chance_cross
         |      FROM ra JOIN cb ON la = lb)
         |SELECT n, n_agree, chance_cross,
         |  (n * n_agree - chance_cross)::BIGINT AS kappa_num,
         |  (n * n - chance_cross)::BIGINT AS kappa_den
         |FROM n, ag, s""".stripMargin,
    // Histogram-cumulative derivation of sorted-batching padding: full
    // batches whose max is len = c//B - (c-cnt)//B; the one partial
    // batch pads to the corpus max. All counts non-negative, so DuckDB
    // // and Spark div agree.
    // Same planted blob, same patterns; per-class counts before/after the
    // identical 4-step replace chain.
    "q197_redaction_audit" ->
      """WITH raw AS (
        |  SELECT c_name || ' <' || lower(regexp_replace(c_name, '#', '.', 'g')) ||
        |    '@example.com> tel +1 555-' ||
        |    lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-' ||
        |    lpad((c_custkey * 7 % 10000)::VARCHAR, 4, '0') ||
        |    ' alt 555-000-1234 from 10.' ||
        |    (c_custkey % 256)::VARCHAR || '.0.' || (c_nationkey % 256)::VARCHAR AS t
        |  FROM customer),
        |b AS (
        |  SELECT t,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g'),
        |      '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS r
        |  FROM raw)
        |SELECT * FROM (
        |  SELECT 'email' AS pattern_class,
        |    sum(CASE WHEN regexp_matches(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 1 ELSE 0 END)::BIGINT AS docs_with_hits,
        |    sum(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))::BIGINT AS hits_before,
        |    sum(len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))::BIGINT AS hits_after
        |  FROM b
        |  UNION ALL
        |  SELECT 'phone_intl',
        |    sum(CASE WHEN regexp_matches(t, '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}') THEN 1 ELSE 0 END)::BIGINT,
        |    sum(len(regexp_extract_all(t, '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}')))::BIGINT,
        |    sum(len(regexp_extract_all(r, '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}')))::BIGINT
        |  FROM b
        |  UNION ALL
        |  SELECT 'phone_bare',
        |    sum(CASE WHEN regexp_matches(t, '\b\d{3}[- ]\d{3}[- ]\d{4}\b') THEN 1 ELSE 0 END)::BIGINT,
        |    sum(len(regexp_extract_all(t, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')))::BIGINT,
        |    sum(len(regexp_extract_all(r, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')))::BIGINT
        |  FROM b
        |  UNION ALL
        |  SELECT 'ipv4',
        |    sum(CASE WHEN regexp_matches(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b') THEN 1 ELSE 0 END)::BIGINT,
        |    sum(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')))::BIGINT,
        |    sum(len(regexp_extract_all(r, '\b(?:\d{1,3}\.){3}\d{1,3}\b')))::BIGINT
        |  FROM b
        |) ORDER BY pattern_class""".stripMargin,
    // Same week quantization (integer div of epoch-micros deltas), same
    // bit-shift weights; DuckDB's << on BIGINT is the identical shift.
    "q201_halflife_engagement" ->
      """WITH h AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        |w AS (
        |  SELECT user_id, (h.h_us - epoch_us(ts)) // 604800000000 AS w
        |  FROM events, h)
        |SELECT user_id,
        |  sum(CASE WHEN w <= 26 THEN 1 ELSE 0 END)::BIGINT AS n_events_in_horizon,
        |  sum(CASE WHEN w <= 26 THEN (1::BIGINT << (26 - w)::INT) ELSE 0 END)::BIGINT AS score
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // The same two rank derivations (overlap ranks = count of shared
    // distinct tokens, desc, doc asc; cosine ranks = q17's exact
    // derivation at k=10) fused with the identical integer RRF rule —
    // ranks in, integers out, so the fusion re-ranks bit-for-bit.
    "q202_hybrid_rrf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct($tokensSql)) AS term FROM documents
         |),
         |lex AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ov DESC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT q.doc_id AS query_id, c.doc_id AS doc_id, count(*) AS ov
         |    FROM toks c JOIN toks q ON c.term = q.term
         |    WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
         |    GROUP BY 1, 2)
         |),
         |sem AS (
         |  SELECT query_id, neighbor_id AS doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      q.embedding AS qv, c.embedding AS cv
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 10)
         |),
         |contrib AS (
         |  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c
         |  FROM lex WHERE rank <= 10
         |  UNION ALL
         |  SELECT query_id, doc_id, 1000000 // (60 + rank) AS c
         |  FROM sem WHERE rank <= 10
         |),
         |fused AS (
         |  SELECT query_id, doc_id, sum(c)::BIGINT AS rrf_e6,
         |    count(*)::BIGINT AS n_arms
         |  FROM contrib GROUP BY 1, 2
         |)
         |SELECT query_id, rank, doc_id, rrf_e6, n_arms FROM (
         |  SELECT query_id, doc_id, rrf_e6, n_arms,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_e6 DESC, doc_id ASC)::INT AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Same q202 rank derivations (lex overlap ranks, sem cosine ranks,
    // integer RRF fusion), then the identical exact eval: first
    // relevant rank per (system, query) → unit fractions over
    // lcm(1..10) = 2520; micro recall as the hits/total integer pair.
    "q209_retrieval_eval" ->
      s"""WITH $retrievalEvalCtesSql,
         |hits AS (
         |  SELECT s.system, s.query_id, min(s.rank) AS first_rank,
         |    count(*)::BIGINT AS n_hits
         |  FROM sys s JOIN rel r
         |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
         |  GROUP BY 1, 2
         |),
         |names(system) AS (SELECT * FROM (VALUES ('fused'), ('lex'), ('sem')))
         |SELECT n.system,
         |  count(*)::BIGINT AS n_judged,
         |  coalesce(sum(h.n_hits), 0)::BIGINT AS hits_at_k,
         |  sum(j.n_rel)::BIGINT AS rel_total,
         |  coalesce(sum(2520 // h.first_rank), 0)::BIGINT AS mrr_num_x_lcm,
         |  2520::BIGINT AS mrr_lcm
         |FROM judged j CROSS JOIN names n
         |LEFT JOIN hits h ON h.system = n.system AND h.query_id = j.query_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same arms/relevance; cumulative hit counts price every hit at
    // P@rank over lcm(1..10) = 2520.
    "q216_retrieval_ap" ->
      s"""WITH $retrievalEvalCtesSql,
         |h AS (
         |  SELECT s.system, s.query_id, s.rank,
         |    count(*) OVER (PARTITION BY s.system, s.query_id
         |      ORDER BY s.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hits_i
         |  FROM sys s JOIN rel r
         |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
         |),
         |pq AS (
         |  SELECT system, query_id, count(*)::BIGINT AS hits_at_k,
         |    sum(hits_i * (2520 // rank))::BIGINT AS ap_sum
         |  FROM h GROUP BY 1, 2
         |),
         |names(system) AS (SELECT * FROM (VALUES ('fused'), ('lex'), ('sem')))
         |SELECT n.system, j.query_id, j.n_rel,
         |  coalesce(p.hits_at_k, 0)::BIGINT AS hits_at_k,
         |  coalesce(p.ap_sum, 0)::BIGINT AS ap_num,
         |  (2520 * least(j.n_rel, 10))::BIGINT AS ap_den
         |FROM judged j CROSS JOIN names n
         |LEFT JOIN pq p ON p.system = n.system AND p.query_id = j.query_id
         |ORDER BY 1, 2""".stripMargin,
    // Same arms; graded relevance (same lang+source → n = 2^2−1 = 3,
    // same lang only → n = 1), then the ERR cascade folded through a
    // bounded recursive CTE carrying the exact integer prefix product:
    // acc += (lcm div r)·n_r·prod·4^(10−r); prod *= (4 − n_r).
    "q217_retrieval_err" ->
      s"""WITH RECURSIVE $retrievalEvalCtesSql,
         |relg AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         |    CASE WHEN q.source = c.source THEN 3::BIGINT
         |         ELSE 1::BIGINT END AS n
         |  FROM documents q JOIN documents c ON q.lang = c.lang
         |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
         |),
         |judgedg AS (
         |  SELECT query_id, count(*)::BIGINT AS n_graded FROM relg GROUP BY 1
         |),
         |names(system) AS (SELECT * FROM (VALUES ('fused'), ('lex'), ('sem'))),
         |sysn AS (
         |  SELECT s.system, s.query_id, s.rank, coalesce(g.n, 0::BIGINT) AS n
         |  FROM sys s LEFT JOIN relg g
         |    ON g.query_id = s.query_id AND g.doc_id = s.doc_id
         |),
         |err AS (
         |  SELECT n.system, j.query_id, j.n_graded, 0 AS r,
         |    0::BIGINT AS acc, 1::BIGINT AS prod
         |  FROM judgedg j CROSS JOIN names n
         |  UNION ALL
         |  SELECT e.system, e.query_id, e.n_graded, e.r + 1,
         |    e.acc + (2520 // (e.r + 1))::BIGINT * coalesce(x.n, 0::BIGINT)
         |          * e.prod * (1::BIGINT << (2 * (10 - (e.r + 1)))),
         |    e.prod * (4::BIGINT - coalesce(x.n, 0::BIGINT))
         |  FROM err e LEFT JOIN sysn x
         |    ON x.system = e.system AND x.query_id = e.query_id
         |   AND x.rank = e.r + 1
         |  WHERE e.r < 10
         |)
         |SELECT system, query_id, n_graded, acc AS err_num,
         |  (2520::BIGINT << 20) AS err_den
         |FROM err WHERE r = 10 ORDER BY 1, 2""".stripMargin,
    // Same pooled-histogram cumulative windows, same md5 coin, same
    // cross-multiplied exceedance comparison in HUGEINT.
    "q241_ks_randomization" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v,
         |    (lang = 'en') AS a
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
         |),
         |obs AS (
         |  SELECT count(*)::BIGINT AS n,
         |    coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0)::BIGINT AS na
         |  FROM base
         |),
         |hist AS (
         |  SELECT v, count(*)::BIGINT AS cnt,
         |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS ca
         |  FROM base GROUP BY 1
         |),
         |ocum AS (
         |  SELECT sum(cnt) OVER w::BIGINT AS cum,
         |    sum(ca) OVER w::BIGINT AS cuma
         |  FROM hist
         |  WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |osup AS (
         |  SELECT coalesce(max(abs(cuma::HUGEINT * (n - na)
         |    - (cum - cuma)::HUGEINT * na)), 0::HUGEINT) AS onum
         |  FROM ocum CROSS JOIN obs
         |),
         |hb AS (
         |  SELECT bs.b, base.v,
         |    ((('0x' || substr(md5('ks:' || bs.b::VARCHAR || ':' || base.k),
         |      1, 16))::UBIGINT & 1) = 1) AS bit
         |  FROM base CROSS JOIN (SELECT unnest(range(1, 65)) AS b) bs
         |),
         |cells AS (
         |  SELECT b, v, count(*)::BIGINT AS cnt,
         |    sum(CASE WHEN bit THEN 1 ELSE 0 END)::BIGINT AS ca
         |  FROM hb GROUP BY 1, 2
         |),
         |pcum AS (
         |  SELECT b, sum(cnt) OVER w::BIGINT AS cum,
         |    sum(ca) OVER w::BIGINT AS cuma,
         |    sum(ca) OVER (PARTITION BY b)::BIGINT AS nab
         |  FROM cells
         |  WINDOW w AS (PARTITION BY b ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |per AS (
         |  SELECT b, nab,
         |    max(abs(cuma::HUGEINT * (obs.n - nab)
         |      - (cum - cuma)::HUGEINT * nab)) AS pnum
         |  FROM pcum CROSS JOIN obs GROUP BY 1, 2
         |),
         |ex AS (
         |  SELECT coalesce(sum(CASE
         |    WHEN nab * (obs.n - nab) = 0
         |      OR pnum * (obs.na::HUGEINT * (obs.n - obs.na))
         |         >= osup.onum * (nab::HUGEINT * (obs.n - nab))
         |    THEN 1 ELSE 0 END), 0)::BIGINT AS n_exceed
         |  FROM per CROSS JOIN osup CROSS JOIN obs
         |)
         |SELECT n, na AS n_in, onum::VARCHAR AS stat_num,
         |  (na::HUGEINT * (n - na))::VARCHAR AS stat_den,
         |  64::BIGINT AS n_perms,
         |  (CASE WHEN n = 0 THEN 64 ELSE n_exceed END)::BIGINT AS n_exceed,
         |  (CASE WHEN n = 0 THEN 64 ELSE n_exceed END + 1)::BIGINT AS p_num,
         |  65::BIGINT AS p_den
         |FROM obs CROSS JOIN osup CROSS JOIN ex""".stripMargin,
    // Same arms + AP derivation as q216 restricted to fused/lex, win
    // signs from the shared-denominator ap_num comparison, then the
    // identical md5-coin randomization count.
    "q240_system_sign_test" ->
      s"""WITH $retrievalEvalCtesSql,
         |h AS (
         |  SELECT s.system, s.query_id, s.rank,
         |    count(*) OVER (PARTITION BY s.system, s.query_id
         |      ORDER BY s.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hits_i
         |  FROM sys s JOIN rel r
         |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
         |  WHERE s.system IN ('fused', 'lex')
         |),
         |pq AS (
         |  SELECT system, query_id,
         |    sum(hits_i * (2520 // rank))::BIGINT AS ap_num
         |  FROM h GROUP BY 1, 2
         |),
         |wide AS (
         |  SELECT j.query_id,
         |    coalesce(max(CASE WHEN p.system = 'fused' THEN p.ap_num END),
         |      0)::BIGINT AS a,
         |    coalesce(max(CASE WHEN p.system = 'lex' THEN p.ap_num END),
         |      0)::BIGINT AS b
         |  FROM judged j LEFT JOIN pq p ON p.query_id = j.query_id
         |  GROUP BY 1
         |),
         |sg AS (
         |  SELECT query_id::VARCHAR AS k,
         |    (CASE WHEN a > b THEN 1 WHEN a < b THEN -1 ELSE 0 END)::BIGINT
         |      AS sgn
         |  FROM wide
         |),
         |obs AS (
         |  SELECT
         |    coalesce(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END), 0)::BIGINT
         |      AS npos,
         |    coalesce(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END), 0)::BIGINT
         |      AS nneg,
         |    coalesce(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END), 0)::BIGINT
         |      AS ntie
         |  FROM sg
         |),
         |hb AS (
         |  SELECT bs.b,
         |    ((('0x' || substr(md5('st:' || bs.b::VARCHAR || ':' || sg.k),
         |      1, 16))::UBIGINT & 1) = 1) AS bit
         |  FROM sg CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |  WHERE sg.sgn <> 0
         |),
         |per AS (
         |  SELECT b, count(*)::BIGINT AS pn,
         |    sum(CASE WHEN bit THEN 1 ELSE 0 END)::BIGINT AS ph
         |  FROM hb GROUP BY 1
         |),
         |ex AS (
         |  SELECT coalesce(sum(CASE WHEN abs(2 * ph - pn) >= abs(npos - nneg)
         |    THEN 1 ELSE 0 END), 0)::BIGINT AS n_exceed
         |  FROM per CROSS JOIN obs
         |)
         |SELECT (npos + nneg)::BIGINT AS n, npos AS n_pos, nneg AS n_neg,
         |  ntie AS n_tie, abs(npos - nneg)::BIGINT AS stat,
         |  200::BIGINT AS n_perms,
         |  (CASE WHEN npos + nneg = 0 THEN 200 ELSE n_exceed END)::BIGINT
         |    AS n_exceed,
         |  (CASE WHEN npos + nneg = 0 THEN 200 ELSE n_exceed END
         |    + 1)::BIGINT AS p_num,
         |  201::BIGINT AS p_den
         |FROM obs CROSS JOIN ex""".stripMargin,
    // Same arms + AP rationals as q240 with the shared per-query
    // denominator carried through; quantize (floor of a non-negative
    // rational — `//` and Spark's `div` agree), flip signs with the
    // identical md5 coin, count magnitude exceedances.
    "q244_paired_delta_test" ->
      s"""WITH $retrievalEvalCtesSql,
         |h AS (
         |  SELECT s.system, s.query_id, s.rank,
         |    count(*) OVER (PARTITION BY s.system, s.query_id
         |      ORDER BY s.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hits_i
         |  FROM sys s JOIN rel r
         |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
         |  WHERE s.system IN ('fused', 'lex')
         |),
         |pq AS (
         |  SELECT system, query_id,
         |    sum(hits_i * (2520 // rank))::BIGINT AS ap_num
         |  FROM h GROUP BY 1, 2
         |),
         |wide AS (
         |  SELECT j.query_id,
         |    coalesce(max(CASE WHEN p.system = 'fused' THEN p.ap_num END),
         |      0)::BIGINT AS a,
         |    coalesce(max(CASE WHEN p.system = 'lex' THEN p.ap_num END),
         |      0)::BIGINT AS b,
         |    (2520 * least(max(j.n_rel), 10))::BIGINT AS dd
         |  FROM judged j LEFT JOIN pq p ON p.query_id = j.query_id
         |  GROUP BY 1
         |),
         |d AS (
         |  SELECT query_id::VARCHAR AS k,
         |    (CASE WHEN a < b THEN -1 ELSE 1 END)::HUGEINT *
         |      ((abs(a - b)::HUGEINT * 1000000) // dd) AS dq
         |  FROM wide
         |),
         |obs AS (
         |  SELECT count(*)::BIGINT AS n,
         |    coalesce(sum(CASE WHEN dq = 0 THEN 1 ELSE 0 END), 0)::BIGINT
         |      AS n_zero,
         |    coalesce(abs(sum(dq)), 0)::HUGEINT AS ot
         |  FROM d
         |),
         |hb AS (
         |  SELECT bs.b, d.dq,
         |    ((('0x' || substr(md5('dt:' || bs.b::VARCHAR || ':' || d.k),
         |      1, 16))::UBIGINT & 1) = 1) AS bit
         |  FROM d CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |  WHERE d.dq <> 0
         |),
         |per AS (
         |  SELECT b,
         |    abs(sum((CASE WHEN bit THEN -1 ELSE 1 END)::HUGEINT * dq)) AS t
         |  FROM hb GROUP BY 1
         |),
         |ex AS (
         |  SELECT coalesce(sum(CASE WHEN t >= obs.ot THEN 1 ELSE 0 END),
         |    0)::BIGINT AS n_exceed
         |  FROM per CROSS JOIN obs
         |)
         |SELECT n, n_zero, ot::VARCHAR AS stat, 200::BIGINT AS n_perms,
         |  (CASE WHEN n - n_zero = 0 THEN 200 ELSE n_exceed END)::BIGINT
         |    AS n_exceed,
         |  (CASE WHEN n - n_zero = 0 THEN 200 ELSE n_exceed END
         |    + 1)::BIGINT AS p_num,
         |  201::BIGINT AS p_den
         |FROM obs CROSS JOIN ex""".stripMargin,
    // q244's deltas and quantization; ranks as the exact doubled
    // average (2·rank + tie-count − 1 over the non-zero units — the
    // min-rank + group-count identity), then the identical coin flips
    // on the signed ranks.
    "q246_wilcoxon_signed_rank" ->
      s"""WITH $retrievalEvalCtesSql,
         |h AS (
         |  SELECT s.system, s.query_id, s.rank,
         |    count(*) OVER (PARTITION BY s.system, s.query_id
         |      ORDER BY s.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS hits_i
         |  FROM sys s JOIN rel r
         |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
         |  WHERE s.system IN ('fused', 'lex')
         |),
         |pq AS (
         |  SELECT system, query_id,
         |    sum(hits_i * (2520 // rank))::BIGINT AS ap_num
         |  FROM h GROUP BY 1, 2
         |),
         |wide AS (
         |  SELECT j.query_id,
         |    coalesce(max(CASE WHEN p.system = 'fused' THEN p.ap_num END),
         |      0)::BIGINT AS a,
         |    coalesce(max(CASE WHEN p.system = 'lex' THEN p.ap_num END),
         |      0)::BIGINT AS b,
         |    (2520 * least(max(j.n_rel), 10))::BIGINT AS dd
         |  FROM judged j LEFT JOIN pq p ON p.query_id = j.query_id
         |  GROUP BY 1
         |),
         |d AS (
         |  SELECT query_id::VARCHAR AS k,
         |    (CASE WHEN a < b THEN -1 ELSE 1 END)::HUGEINT *
         |      ((abs(a - b)::HUGEINT * 1000000) // dd) AS dq
         |  FROM wide
         |),
         |rk AS (
         |  SELECT k, (CASE WHEN dq < 0 THEN -1 ELSE 1 END)::HUGEINT *
         |    (2 * rank() OVER (ORDER BY abs(dq))
         |     + count(*) OVER (PARTITION BY abs(dq)) - 1) AS sr
         |  FROM d WHERE dq <> 0
         |),
         |obs AS (
         |  SELECT (SELECT count(*) FROM d)::BIGINT AS n,
         |    (SELECT count(*) FROM d WHERE dq = 0)::BIGINT AS n_zero,
         |    coalesce((SELECT abs(sum(sr)) FROM rk), 0)::HUGEINT AS ow
         |),
         |hb AS (
         |  SELECT bs.b, rk.sr,
         |    ((('0x' || substr(md5('wx:' || bs.b::VARCHAR || ':' || rk.k),
         |      1, 16))::UBIGINT & 1) = 1) AS bit
         |  FROM rk CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |per AS (
         |  SELECT b,
         |    abs(sum((CASE WHEN bit THEN -1 ELSE 1 END)::HUGEINT * sr)) AS t
         |  FROM hb GROUP BY 1
         |),
         |ex AS (
         |  SELECT coalesce(sum(CASE WHEN t >= obs.ot THEN 1 ELSE 0 END),
         |    0)::BIGINT AS n_exceed
         |  FROM per CROSS JOIN (SELECT ow AS ot FROM obs) obs
         |)
         |SELECT n, n_zero, ow::VARCHAR AS stat, 200::BIGINT AS n_perms,
         |  (CASE WHEN n - n_zero = 0 THEN 200 ELSE n_exceed END)::BIGINT
         |    AS n_exceed,
         |  (CASE WHEN n - n_zero = 0 THEN 200 ELSE n_exceed END
         |    + 1)::BIGINT AS p_num,
         |  201::BIGINT AS p_den
         |FROM obs CROSS JOIN ex""".stripMargin,
    // Same arms and graded fixture as q217; gain 2^g−1, reciprocal
    // discount (2520 // rank), IDCG from the judged gains ranked
    // descending and truncated at 10 — nDCG = dcg_num/idcg_num.
    "q239_retrieval_ndcg" ->
      s"""WITH $retrievalEvalCtesSql,
         |relg AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         |    CASE WHEN q.source = c.source THEN 3::BIGINT
         |         ELSE 1::BIGINT END AS n
         |  FROM documents q JOIN documents c ON q.lang = c.lang
         |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
         |),
         |judgedg AS (
         |  SELECT query_id, count(*)::BIGINT AS n_graded FROM relg GROUP BY 1
         |),
         |idcg AS (
         |  SELECT query_id, sum((2520 // rn) * n)::BIGINT AS idcg_num FROM (
         |    SELECT query_id, n, row_number() OVER (PARTITION BY query_id
         |      ORDER BY n DESC, doc_id ASC) AS rn
         |    FROM relg)
         |  WHERE rn <= 10 GROUP BY 1
         |),
         |names(system) AS (SELECT * FROM (VALUES ('fused'), ('lex'), ('sem'))),
         |pq AS (
         |  SELECT s.system, s.query_id,
         |    sum((2520 // s.rank) * g.n)::BIGINT AS dcg_num
         |  FROM sys s JOIN relg g
         |    ON g.query_id = s.query_id AND g.doc_id = s.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT n.system, j.query_id, j.n_graded,
         |  coalesce(p.dcg_num, 0)::BIGINT AS dcg_num, i.idcg_num
         |FROM judgedg j JOIN idcg i USING (query_id) CROSS JOIN names n
         |LEFT JOIN pq p ON p.system = n.system AND p.query_id = j.query_id
         |ORDER BY 1, 2""".stripMargin,
    // Same tokenizer; syllables = per-token max(1, [aeiouy]+ runs) on the
    // lowercased token, sentences = max(1, [.!?]+ runs); the FK grade and
    // the per-doc hard flag re-derive as the same integer arithmetic.
    "q218_readability" ->
      s"""WITH per AS (
         |  SELECT source,
         |    len($tokensSql)::BIGINT AS w,
         |    coalesce(list_sum(list_transform($tokensSql,
         |      t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))),
         |      0)::BIGINT AS y,
         |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS t
         |  FROM documents WHERE text IS NOT NULL
         |),
         |tot AS (
         |  SELECT source, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS W,
         |    sum(y)::BIGINT AS Y, sum(t)::BIGINT AS T,
         |    sum(CASE WHEN w > 0 AND 39*w*w + 1180*y*t > 2759*w*t
         |        THEN 1 ELSE 0 END)::BIGINT AS hard_docs
         |  FROM per GROUP BY 1
         |)
         |SELECT source, n_docs, W AS n_words, Y AS n_syllables,
         |  T AS n_sentences,
         |  CASE WHEN W > 0 THEN 39*W*W + 1180*Y*T - 1559*W*T END AS fk_num,
         |  CASE WHEN W > 0 THEN 100*W*T END AS fk_den, hard_docs
         |FROM tot ORDER BY source""".stripMargin,
    // Same stopword-ratio confidence (integer-truncated e6), same bins:
    // per bin |1e6·n_pos − Σconf| is the exact ECE numerator piece.
    "q219_calibration" ->
      s"""WITH base AS (
         |  SELECT (1000000 * $enHits // len($tokensSql))::BIGINT AS conf_e6,
         |    (lang = 'en') AS p
         |  FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL AND len($tokensSql) > 0
         |),
         |per AS (
         |  SELECT least(conf_e6 // 100000, 9)::INT AS bin,
         |    count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN p THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         |    sum(conf_e6)::BIGINT AS conf_sum_e6
         |  FROM base GROUP BY 1
         |),
         |perd AS (
         |  SELECT bin, n_docs, n_pos, conf_sum_e6,
         |    abs(1000000 * n_pos - conf_sum_e6)::BIGINT AS dev_e6
         |  FROM per
         |)
         |SELECT * FROM perd
         |UNION ALL
         |SELECT NULL::INT, sum(n_docs)::BIGINT, sum(n_pos)::BIGINT,
         |  sum(conf_sum_e6)::BIGINT, sum(dev_e6)::BIGINT
         |FROM perd
         |ORDER BY bin""".stripMargin,
    // Same contingency/margin derivation; HUGEINT keeps the squared
    // term exact (it exceeds a BIGINT at corpus scale).
    "q220_chi_square" ->
      s"""WITH cells AS (
         |  SELECT source AS rk, lang AS ck, count(*)::BIGINT AS o
         |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
         |  GROUP BY 1, 2
         |),
         |rm AS (SELECT rk, sum(o)::BIGINT AS r_tot FROM cells GROUP BY 1),
         |cm AS (SELECT ck, sum(o)::BIGINT AS c_tot FROM cells GROUP BY 1),
         |nn AS (SELECT sum(o)::BIGINT AS n FROM cells),
         |grid AS (
         |  SELECT rm.rk, cm.ck, coalesce(c.o, 0)::BIGINT AS o,
         |    rm.r_tot, cm.c_tot, nn.n
         |  FROM rm CROSS JOIN cm CROSS JOIN nn
         |  LEFT JOIN cells c ON c.rk = rm.rk AND c.ck = cm.ck
         |)
         |SELECT rk, ck, o, r_tot, c_tot, n,
         |  ((n::HUGEINT * o - r_tot::HUGEINT * c_tot) *
         |   (n::HUGEINT * o - r_tot::HUGEINT * c_tot))::VARCHAR AS chi_num,
         |  (n::HUGEINT * r_tot * c_tot)::VARCHAR AS chi_den
         |FROM grid ORDER BY 1, 2""".stripMargin,
    // Same two rules, same 2x2 and (b-c)^2/(b+c) integers.
    "q221_mcnemar" ->
      s"""WITH base AS (
         |  SELECT (n_chars >= 300) AS a, (len($tokensSql) >= 55) AS b
         |  FROM documents WHERE text IS NOT NULL
         |),
         |t AS (
         |  SELECT
         |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n_both,
         |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n_a_only,
         |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n_b_only,
         |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n_neither
         |  FROM base
         |)
         |SELECT n_both, n_a_only, n_b_only, n_neither,
         |  ((n_a_only - n_b_only) * (n_a_only - n_b_only))::BIGINT
         |    AS mcnemar_num,
         |  (n_a_only + n_b_only)::BIGINT AS mcnemar_den
         |FROM t""".stripMargin,
    // Same arm ranks; inversions counted by the definitional pair
    // self-join over each query's <= 10 shared coordinates.
    "q222_arm_agreement" ->
      s"""WITH $retrievalEvalCtesSql,
         |shared AS (
         |  SELECT l.query_id, l.rank AS ra, s.rank AS rb
         |  FROM lex l JOIN sem s
         |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
         |),
         |mq AS (SELECT query_id, count(*)::BIGINT AS m FROM shared GROUP BY 1),
         |inv AS (
         |  SELECT a.query_id, count(*)::BIGINT AS invs
         |  FROM shared a JOIN shared b
         |    ON a.query_id = b.query_id AND a.ra < b.ra AND a.rb > b.rb
         |  GROUP BY 1
         |)
         |SELECT m.query_id, m.m, coalesce(i.invs, 0)::BIGINT AS inversions,
         |  (m.m * (m.m - 1) // 2 - 2 * coalesce(i.invs, 0))::BIGINT AS tau_num,
         |  (m.m * (m.m - 1) // 2)::BIGINT AS tau_den
         |FROM mq m LEFT JOIN inv i ON i.query_id = m.query_id
         |ORDER BY m.query_id""".stripMargin,
    // Same arms, same single-sourced integer weights (rboWeights) —
    // the per-doc telescoped weight at greatest(rank_a, rank_b).
    "q229_rbo_arms" -> {
      val (rboW, rboD) = graft.operators.Retrieval.rboWeights(10)
      s"""WITH $retrievalEvalCtesSql,
         |qs AS (
         |  SELECT DISTINCT query_id FROM lex
         |  UNION SELECT DISTINCT query_id FROM sem
         |),
         |shared AS (
         |  SELECT l.query_id,
         |    list_extract([${rboW.mkString(", ")}],
         |      greatest(l.rank, s.rank)) AS w
         |  FROM lex l JOIN sem s
         |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
         |),
         |agg AS (
         |  SELECT query_id, count(*)::BIGINT AS overlap_k,
         |    sum(w)::BIGINT AS rbo_num
         |  FROM shared GROUP BY 1
         |)
         |SELECT q.query_id,
         |  coalesce(a.overlap_k, 0)::BIGINT AS overlap_k,
         |  coalesce(a.rbo_num, 0)::BIGINT AS rbo_num,
         |  $rboD::BIGINT AS rbo_den
         |FROM qs q LEFT JOIN agg a ON q.query_id = a.query_id
         |ORDER BY q.query_id""".stripMargin
    },
    // Same synthesized releases (q119's % 17 / % 19 splits), same
    // cross-multiplied deviations and total row.
    "q223_mix_shift" ->
      s"""WITH p AS (
         |  SELECT lang AS k, count(*)::BIGINT AS n_prev FROM documents
         |  WHERE doc_id % 17 <> 0 AND lang IS NOT NULL GROUP BY 1
         |),
         |c AS (
         |  SELECT lang AS k, count(*)::BIGINT AS n_cur FROM documents
         |  WHERE doc_id % 19 <> 0 AND lang IS NOT NULL GROUP BY 1
         |),
         |j AS (
         |  SELECT coalesce(p.k, c.k) AS k,
         |    coalesce(n_prev, 0)::BIGINT AS n_prev,
         |    coalesce(n_cur, 0)::BIGINT AS n_cur
         |  FROM p FULL JOIN c ON p.k = c.k
         |),
         |t AS (SELECT sum(n_prev)::BIGINT AS tp, sum(n_cur)::BIGINT AS tc FROM j),
         |per AS (
         |  SELECT k, n_prev, n_cur,
         |    abs(n_prev * tc - n_cur * tp)::BIGINT AS dev
         |  FROM j CROSS JOIN t
         |)
         |SELECT * FROM per
         |UNION ALL
         |SELECT NULL, tp, tc, (SELECT sum(dev)::BIGINT FROM per) FROM t
         |ORDER BY k""".stripMargin,
    // Same histogram-midrank derivation (2c − cnt + 1 per tie group),
    // same per-source reductions and tie term.
    "q224_kruskal_wallis" ->
      s"""WITH base AS (
         |  SELECT len($tokensSql)::BIGINT AS s, source AS g
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         |),
         |histg AS (
         |  SELECT s, g, count(*)::BIGINT AS cg FROM base GROUP BY 1, 2
         |),
         |hist AS (SELECT s, sum(cg)::BIGINT AS cnt FROM histg GROUP BY 1),
         |mids AS (
         |  SELECT s, cnt,
         |    (2 * sum(cnt) OVER (ORDER BY s
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |     - cnt + 1)::BIGINT AS mid2
         |  FROM hist
         |),
         |perg AS (
         |  SELECT hg.g, sum(hg.cg)::BIGINT AS n,
         |    sum(hg.cg * m.mid2)::BIGINT AS rank_sum_x2,
         |    NULL::BIGINT AS tie_t3
         |  FROM histg hg JOIN mids m ON hg.s = m.s GROUP BY 1
         |)
         |SELECT * FROM perg
         |UNION ALL
         |SELECT NULL, sum(cnt)::BIGINT, sum(cnt * mid2)::BIGINT,
         |  sum(cnt * cnt * cnt - cnt)::BIGINT
         |FROM mids
         |ORDER BY g""".stripMargin,
    // Same md5 fair coin (low bit of the first 8 md5 bytes of
    // 'rt:b:key'), same cross-multiplied exceedance rule, same add-one
    // p-value convention.
    "q225_randomization_test" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v,
         |    (lang = 'en') AS a
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
         |),
         |obs AS (
         |  SELECT count(*)::BIGINT AS n, coalesce(sum(v), 0)::BIGINT AS s,
         |    coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0)::BIGINT AS na,
         |    coalesce(sum(CASE WHEN a THEN v ELSE 0 END), 0)::BIGINT AS sa
         |  FROM base
         |),
         |hb AS (
         |  SELECT bs.b, base.v,
         |    ((('0x' || substr(md5('rt:' || bs.b::VARCHAR
         |      || ':' || base.k), 1, 16))::UBIGINT & 1) = 1) AS bit
         |  FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |per AS (
         |  SELECT b,
         |    sum(CASE WHEN bit THEN 1 ELSE 0 END)::BIGINT AS pa,
         |    sum(CASE WHEN bit THEN v ELSE 0 END)::BIGINT AS psa
         |  FROM hb GROUP BY 1
         |),
         |ex AS (
         |  SELECT coalesce(sum(CASE WHEN pa * (n - pa) = 0
         |      OR abs(psa::HUGEINT * n - s::HUGEINT * pa)
         |           * (na::HUGEINT * (n - na))
         |         >= abs(sa::HUGEINT * n - s::HUGEINT * na)
         |           * (pa::HUGEINT * (n - pa))
         |    THEN 1 ELSE 0 END), 0)::BIGINT AS n_exceed
         |  FROM per CROSS JOIN obs
         |)
         |SELECT n, na AS n_in, s AS sum_total, sa AS sum_in,
         |  abs(sa::HUGEINT * n - s::HUGEINT * na)::VARCHAR AS stat_num,
         |  (na::HUGEINT * (n - na))::VARCHAR AS stat_den,
         |  200::BIGINT AS n_perms, n_exceed,
         |  (n_exceed + 1)::BIGINT AS p_num, 201::BIGINT AS p_den
         |FROM obs CROSS JOIN ex""".stripMargin,
    // Same size-matched md5 thresholds (floor(ng*2^63/n), the Sampling
    // rule), same exceedance counting, same integer BH step-up.
    "q226_fdr_drift_sweep" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v,
         |    source AS g
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         |),
         |tot AS (SELECT count(*)::BIGINT AS n,
         |  coalesce(sum(v), 0)::BIGINT AS s FROM base),
         |pg AS (SELECT g, count(*)::BIGINT AS ng, sum(v)::BIGINT AS sg
         |  FROM base GROUP BY 1),
         |gt AS (
         |  SELECT pg.g, ng, sg, n, s,
         |    (ng::HUGEINT * 9223372036854775808::HUGEINT) // n AS thr
         |  FROM pg CROSS JOIN tot
         |),
         |hashed AS (
         |  SELECT base.v, bs.b,
         |    ((('0x' || substr(md5('fdr:' || bs.b::VARCHAR || ':'
         |        || base.k), 1, 16))::UBIGINT >> 1)::HUGEINT) AS h
         |  FROM base
         |  CROSS JOIN (SELECT unnest(range(1, 65)) AS b) bs
         |),
         |per AS (
         |  SELECT gt.g, hashed.b,
         |    sum(CASE WHEN hashed.h < gt.thr THEN 1 ELSE 0 END)::BIGINT AS pa,
         |    sum(CASE WHEN hashed.h < gt.thr THEN v ELSE 0 END)::BIGINT AS psa
         |  FROM hashed CROSS JOIN gt
         |  GROUP BY 1, 2
         |),
         |exg AS (
         |  SELECT per.g,
         |    coalesce(sum(CASE WHEN pa * (gt.n - pa) = 0
         |        OR abs(psa::HUGEINT * gt.n - gt.s::HUGEINT * pa)
         |             * (gt.ng::HUGEINT * (gt.n - gt.ng))
         |           >= abs(gt.sg::HUGEINT * gt.n - gt.s::HUGEINT * gt.ng)
         |             * (pa::HUGEINT * (gt.n - pa))
         |      THEN 1 ELSE 0 END), 0)::BIGINT AS n_exceed
         |  FROM per JOIN gt ON per.g = gt.g
         |  GROUP BY 1
         |),
         |ranked AS (
         |  SELECT gt.g, gt.ng AS n_g, gt.sg AS sum_g,
         |    abs(gt.sg::HUGEINT * gt.n - gt.s::HUGEINT * gt.ng) AS stat_num,
         |    (gt.ng::HUGEINT * (gt.n - gt.ng)) AS stat_den,
         |    e.n_exceed,
         |    row_number() OVER (ORDER BY e.n_exceed, gt.g)::BIGINT AS bh_rank,
         |    count(*) OVER ()::BIGINT AS m
         |  FROM gt JOIN exg e ON gt.g = e.g
         |),
         |cut AS (
         |  SELECT max(CASE WHEN (n_exceed + 1) * m * 20 <= bh_rank * 65 * 1
         |    THEN bh_rank END) AS cutoff FROM ranked
         |)
         |SELECT g, n_g, sum_g, stat_num::VARCHAR AS stat_num,
         |  stat_den::VARCHAR AS stat_den, n_exceed,
         |  (n_exceed + 1)::BIGINT AS p_num, 65::BIGINT AS p_den, bh_rank,
         |  (bh_rank <= coalesce(cutoff, 0)) AS rejected
         |FROM ranked CROSS JOIN cut
         |ORDER BY g""".stripMargin,
    // Same pinned Poisson thresholds (Resample.poissonWeightSql keeps
    // the literals single-sourced), same 10^15-scaled integer-quotient
    // replicate ordering, same 5/196 order-statistic picks.
    "q227_bootstrap_ci" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v
         |  FROM documents WHERE text IS NOT NULL
         |),
         |obs AS (SELECT count(*)::BIGINT AS n,
         |  coalesce(sum(v), 0)::BIGINT AS s FROM base),
         |hu AS (
         |  SELECT bs.b, base.v,
         |    ${graft.operators.Resample.poissonHashSql(
                "bs", "bs.b", "base.k")} AS u
         |  FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |hw AS (
         |  SELECT b, v,
         |    ${graft.operators.Resample.poissonWeightFromHashSql("u")} AS w
         |  FROM hu
         |),
         |per AS (
         |  SELECT b, coalesce(sum(w), 0)::BIGINT AS nb,
         |    coalesce(sum(w * v), 0)::BIGINT AS sb
         |  FROM hw GROUP BY 1
         |),
         |qd AS (
         |  SELECT b, nb, sb, CASE WHEN nb = 0 THEN (-1)::HUGEINT
         |    ELSE (sb::HUGEINT * 1000000000000000) // nb END AS q
         |  FROM per
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY q, b)::BIGINT AS r FROM qd
         |),
         |pick AS (
         |  SELECT max(CASE WHEN r = 5 THEN sb END)::BIGINT AS lo_num,
         |    max(CASE WHEN r = 5 THEN nb END)::BIGINT AS lo_den,
         |    max(CASE WHEN r = 5 THEN q END)::BIGINT AS lo_scaled,
         |    max(CASE WHEN r = 196 THEN sb END)::BIGINT AS hi_num,
         |    max(CASE WHEN r = 196 THEN nb END)::BIGINT AS hi_den,
         |    max(CASE WHEN r = 196 THEN q END)::BIGINT AS hi_scaled
         |  FROM ranked
         |)
         |SELECT n, s AS sum_total,
         |  (CASE WHEN n = 0 THEN (-1)::HUGEINT
         |    ELSE (s::HUGEINT * 1000000000000000) // n END)::BIGINT
         |    AS mean_scaled,
         |  200::BIGINT AS n_reps, 5::BIGINT AS lo_rank,
         |  196::BIGINT AS hi_rank, lo_num, lo_den, lo_scaled,
         |  hi_num, hi_den, hi_scaled
         |FROM obs CROSS JOIN pick""".stripMargin,
    // Same component closure + arg_min keep rule as q214, same hoisted
    // Poisson machinery, ratio ordered by the scaled quotient.
    "q238_dedup_roi_ci" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |toks AS (SELECT doc_id AS id, len($tokensSql)::BIGINT AS w
         |  FROM documents WHERE text IS NOT NULL),
         |cl AS (
         |  SELECT coalesce(c.component_id::VARCHAR, t.id::VARCHAR) AS u,
         |    sum(t.w)::BIGINT AS d,
         |    (sum(t.w) - arg_min(t.w, t.id))::BIGINT AS m
         |  FROM toks t LEFT JOIN comps c ON t.id = c.id
         |  GROUP BY 1
         |),
         |obs AS (SELECT count(*)::BIGINT AS n_units,
         |  coalesce(sum(d), 0)::BIGINT AS n,
         |  coalesce(sum(m), 0)::BIGINT AS s FROM cl),
         |hu AS (
         |  SELECT bs.b, cl.d, cl.m,
         |    ${graft.operators.Resample.poissonHashSql(
                "roi", "bs.b", "cl.u")} AS uh
         |  FROM cl CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |hw AS (
         |  SELECT b, d, m,
         |    ${graft.operators.Resample.poissonWeightFromHashSql("uh")} AS w
         |  FROM hu
         |),
         |per AS (
         |  SELECT b, coalesce(sum(w * d), 0)::BIGINT AS nb,
         |    coalesce(sum(w * m), 0)::BIGINT AS sb
         |  FROM hw GROUP BY 1
         |),
         |qd AS (
         |  SELECT b, nb, sb, CASE WHEN nb = 0 THEN (-1)::HUGEINT
         |    ELSE (sb::HUGEINT * 1000000000000000) // nb END AS q
         |  FROM per
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY q, b)::BIGINT AS r FROM qd
         |),
         |pick AS (
         |  SELECT max(CASE WHEN r = 5 THEN sb END)::BIGINT AS lo_num,
         |    max(CASE WHEN r = 5 THEN nb END)::BIGINT AS lo_den,
         |    max(CASE WHEN r = 5 THEN q END)::BIGINT AS lo_scaled,
         |    max(CASE WHEN r = 196 THEN sb END)::BIGINT AS hi_num,
         |    max(CASE WHEN r = 196 THEN nb END)::BIGINT AS hi_den,
         |    max(CASE WHEN r = 196 THEN q END)::BIGINT AS hi_scaled
         |  FROM ranked
         |)
         |SELECT n_units, n AS den_total, s AS num_total,
         |  (CASE WHEN n = 0 THEN (-1)::HUGEINT
         |    ELSE (s::HUGEINT * 1000000000000000) // n END)::BIGINT
         |    AS ratio_scaled,
         |  200::BIGINT AS n_reps, 5::BIGINT AS lo_rank,
         |  196::BIGINT AS hi_rank, lo_num, lo_den, lo_scaled,
         |  hi_num, hi_den, hi_scaled
         |FROM obs CROSS JOIN pick""".stripMargin,
    // Same recursive-CTE component closure as the q23/q93/q214 family,
    // then the identical span histogram.
    "q237_component_span" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |cs AS (
         |  SELECT c.component_id, count(*)::BIGINT AS n,
         |    count(DISTINCT d.source)::BIGINT AS span
         |  FROM comps c JOIN documents d ON c.id = d.doc_id
         |  GROUP BY 1
         |)
         |SELECT span AS n_sources_span, count(*)::BIGINT AS n_components,
         |  sum(n)::BIGINT AS n_docs
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same single-sourced RE2-safe patterns (Cleanup constants).
    "q236_encoding_audit" ->
      s"""SELECT source AS g, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN regexp_matches(text,
         |    '${graft.text.Cleanup.ReplacementCharPattern}') THEN 1 ELSE 0
         |    END)::BIGINT AS docs_replacement,
         |  sum(CASE WHEN regexp_matches(text,
         |    '${graft.text.Cleanup.ControlCharPattern}') THEN 1 ELSE 0
         |    END)::BIGINT AS docs_control,
         |  sum(CASE WHEN regexp_matches(text,
         |    '${graft.text.Cleanup.MojibakePattern}') THEN 1 ELSE 0
         |    END)::BIGINT AS docs_mojibake,
         |  coalesce(sum(len(regexp_extract_all(text,
         |    '${graft.text.Cleanup.ReplacementCharPattern}'))), 0)::BIGINT
         |    AS hits_replacement,
         |  coalesce(sum(len(regexp_extract_all(text,
         |    '${graft.text.Cleanup.ControlCharPattern}'))), 0)::BIGINT
         |    AS hits_control,
         |  coalesce(sum(len(regexp_extract_all(text,
         |    '${graft.text.Cleanup.MojibakePattern}'))), 0)::BIGINT
         |    AS hits_mojibake
         |FROM documents
         |WHERE source IS NOT NULL AND text IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same stopword-hit CASE argmax as the q11 oracle, grouped.
    "q235_lang_confusion" ->
      s"""WITH g AS (
         |  SELECT source, lang AS labeled,
         |    CASE
         |      WHEN $enHits >= $deHits AND $enHits >= $esHits AND $enHits >= $frHits THEN 'en'
         |      WHEN $deHits >= $esHits AND $deHits >= $frHits THEN 'de'
         |      WHEN $esHits >= $frHits THEN 'es'
         |      ELSE 'fr'
         |    END AS guessed
         |  FROM documents
         |  WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
         |)
         |SELECT source, labeled, guessed, count(*)::BIGINT AS n_docs
         |FROM g GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    // All-pairs shingle evidence (no banding — every J >= 3/4 pair, the
    // recall regime the q14/q23 oracles already pin), then the same
    // per-threshold integer filters. Ordering: the 1e19-scaled HUGEINT
    // floor is EXACT for Int-typed thresholds — two distinct rationals
    // n1/d1 < n2/d2 differ by >= 1/(d1*d2) >= 1/(2^31-1)^2 > 1/1e19,
    // so their scaled images differ by > 1 and their floors are
    // strictly ordered; the t_den tiebreak never fires (it survives
    // only as syntax for the NULL-free key). The bound is the
    // operator's Seq[(Int, Int)] signature, so no runtime check can
    // be outgrown. This matches thresholdFrontier's driver-side exact
    // rational rank order.
    "q234_threshold_frontier" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
         |),
         |pair_inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
         |ev AS (
         |  SELECT id_a, id_b, inter, (sa.n + sb.n - inter)::BIGINT AS uni
         |  FROM pair_inter
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |),
         |ts AS (SELECT t_num::BIGINT AS t_num, t_den::BIGINT AS t_den
         |  FROM (VALUES (3, 4), (4, 5), (9, 10), (19, 20), (1, 1))
         |    t(t_num, t_den)),
         |qual AS (
         |  SELECT ts.t_num, ts.t_den, ev.id_a, ev.id_b
         |  FROM ev CROSS JOIN ts
         |  WHERE ev.inter * ts.t_den >= ev.uni * ts.t_num
         |),
         |np AS (SELECT t_num, t_den, count(*)::BIGINT AS n_pairs
         |  FROM qual GROUP BY 1, 2),
         |nd AS (
         |  SELECT t_num, t_den, count(DISTINCT id)::BIGINT AS n_docs
         |  FROM (SELECT t_num, t_den, id_a AS id FROM qual
         |        UNION ALL SELECT t_num, t_den, id_b FROM qual)
         |  GROUP BY 1, 2
         |)
         |SELECT ts.t_num, ts.t_den,
         |  coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
         |  coalesce(nd.n_docs, 0)::BIGINT AS n_docs
         |FROM ts
         |LEFT JOIN np USING (t_num, t_den)
         |LEFT JOIN nd USING (t_num, t_den)
         |ORDER BY (t_num::HUGEINT * 10000000000000000000::HUGEINT)
         |  // t_den, t_den""".stripMargin,
    // Same hoisted hash, same scaled-floor replicate ordering, same
    // exact cross-multiplied bounds.
    "q233_release_diff_ci" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v,
         |    (doc_id % 17 <> 0) AS a, (doc_id % 19 <> 0) AS bb
         |  FROM documents
         |  WHERE text IS NOT NULL AND (doc_id % 17 <> 0 OR doc_id % 19 <> 0)
         |),
         |obs AS (
         |  SELECT sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |    sum(CASE WHEN bb THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |    sum(CASE WHEN a THEN v ELSE 0 END)::BIGINT AS sum_a,
         |    sum(CASE WHEN bb THEN v ELSE 0 END)::BIGINT AS sum_b
         |  FROM base
         |),
         |hu AS (
         |  SELECT bs.b, base.v, base.a, base.bb,
         |    ${graft.operators.Resample.poissonHashSql(
                "rd", "bs.b", "base.k")} AS u
         |  FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |hw AS (
         |  SELECT b, v, a, bb,
         |    ${graft.operators.Resample.poissonWeightFromHashSql("u")} AS w
         |  FROM hu
         |),
         |per AS (
         |  SELECT b,
         |    coalesce(sum(CASE WHEN a THEN w ELSE 0 END), 0)::BIGINT AS na,
         |    coalesce(sum(CASE WHEN a THEN w * v ELSE 0 END), 0)::BIGINT AS sa,
         |    coalesce(sum(CASE WHEN bb THEN w ELSE 0 END), 0)::BIGINT AS nb,
         |    coalesce(sum(CASE WHEN bb THEN w * v ELSE 0 END), 0)::BIGINT AS sb
         |  FROM hw GROUP BY 1
         |),
         |qd AS (
         |  SELECT b, na, sa, nb, sb,
         |    CASE WHEN na = 0 OR nb = 0 THEN (-1000000000000000000)::HUGEINT
         |      ELSE (sa::HUGEINT * 1000000000000000) // na
         |         - (sb::HUGEINT * 1000000000000000) // nb END AS q
         |  FROM per
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY q, b)::BIGINT AS r FROM qd
         |),
         |pick AS (
         |  SELECT
         |    max(CASE WHEN r = 5 AND na <> 0 AND nb <> 0
         |      THEN sa::HUGEINT * nb - sb::HUGEINT * na END) AS lo_num,
         |    max(CASE WHEN r = 5 AND na <> 0 AND nb <> 0
         |      THEN na::HUGEINT * nb END) AS lo_den,
         |    max(CASE WHEN r = 196 AND na <> 0 AND nb <> 0
         |      THEN sa::HUGEINT * nb - sb::HUGEINT * na END) AS hi_num,
         |    max(CASE WHEN r = 196 AND na <> 0 AND nb <> 0
         |      THEN na::HUGEINT * nb END) AS hi_den
         |  FROM ranked
         |)
         |SELECT n_a, n_b, sum_a, sum_b,
         |  (sum_a::HUGEINT * n_b - sum_b::HUGEINT * n_a)::VARCHAR
         |    AS diff_num,
         |  (n_a::HUGEINT * n_b)::VARCHAR AS diff_den,
         |  200::BIGINT AS n_reps, 5::BIGINT AS lo_rank,
         |  196::BIGINT AS hi_rank, lo_num::VARCHAR AS lo_num,
         |  lo_den::VARCHAR AS lo_den, hi_num::VARCHAR AS hi_num,
         |  hi_den::VARCHAR AS hi_den
         |FROM obs CROSS JOIN pick""".stripMargin,
    // Same shift-banded ordinal tiers, same (i-j)^2 pricing over the
    // marginal cross.
    "q232_weighted_kappa" ->
      s"""WITH base AS (
         |  SELECT least(4, len($tokensSql) >> 4)::BIGINT AS la,
         |    least(4, length(text) >> 7)::BIGINT AS lb
         |  FROM documents WHERE text IS NOT NULL
         |),
         |conf AS (SELECT la, lb, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
         |d AS (SELECT coalesce(sum((la - lb) * (la - lb) * c), 0)::BIGINT
         |    AS d_obs, coalesce(sum(c), 0)::BIGINT AS n FROM conf),
         |ra AS (SELECT la, sum(c)::BIGINT AS r FROM conf GROUP BY 1),
         |cb AS (SELECT lb, sum(c)::BIGINT AS cc FROM conf GROUP BY 1),
         |w AS (
         |  SELECT coalesce(sum((ra.la - cb.lb) * (ra.la - cb.lb)
         |    * ra.r * cb.cc), 0)::BIGINT AS w_cross
         |  FROM ra CROSS JOIN cb
         |)
         |SELECT n, d_obs,
         |  (w_cross - n * d_obs)::BIGINT AS kappa_num,
         |  w_cross AS kappa_den
         |FROM d CROSS JOIN w""".stripMargin,
    // Same hoisted-hash recipe, same seed as q227 (row weights shared
    // by construction), order statistics partitioned by source.
    "q231_group_bootstrap" ->
      s"""WITH base AS (
         |  SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v,
         |    source AS g
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         |),
         |obs AS (SELECT g, count(*)::BIGINT AS n,
         |  coalesce(sum(v), 0)::BIGINT AS s FROM base GROUP BY 1),
         |hu AS (
         |  SELECT base.g, bs.b, base.v,
         |    ${graft.operators.Resample.poissonHashSql(
                "bs", "bs.b", "base.k")} AS u
         |  FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |hw AS (
         |  SELECT g, b, v,
         |    ${graft.operators.Resample.poissonWeightFromHashSql("u")} AS w
         |  FROM hu
         |),
         |per AS (
         |  SELECT g, b, coalesce(sum(w), 0)::BIGINT AS nb,
         |    coalesce(sum(w * v), 0)::BIGINT AS sb
         |  FROM hw GROUP BY 1, 2
         |),
         |qd AS (
         |  SELECT g, b, nb, sb, CASE WHEN nb = 0 THEN (-1)::HUGEINT
         |    ELSE (sb::HUGEINT * 1000000000000000) // nb END AS q
         |  FROM per
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY g ORDER BY q, b)::BIGINT
         |    AS r FROM qd
         |),
         |pick AS (
         |  SELECT g,
         |    max(CASE WHEN r = 5 THEN sb END)::BIGINT AS lo_num,
         |    max(CASE WHEN r = 5 THEN nb END)::BIGINT AS lo_den,
         |    max(CASE WHEN r = 5 THEN q END)::BIGINT AS lo_scaled,
         |    max(CASE WHEN r = 196 THEN sb END)::BIGINT AS hi_num,
         |    max(CASE WHEN r = 196 THEN nb END)::BIGINT AS hi_den,
         |    max(CASE WHEN r = 196 THEN q END)::BIGINT AS hi_scaled
         |  FROM ranked GROUP BY 1
         |)
         |SELECT o.g, o.n, o.s AS sum_total,
         |  (CASE WHEN o.n = 0 THEN (-1)::HUGEINT
         |    ELSE (o.s::HUGEINT * 1000000000000000) // o.n END)::BIGINT
         |    AS mean_scaled,
         |  200::BIGINT AS n_reps, 5::BIGINT AS lo_rank,
         |  196::BIGINT AS hi_rank, lo_num, lo_den, lo_scaled,
         |  hi_num, hi_den, hi_scaled
         |FROM obs o JOIN pick USING (g)
         |ORDER BY o.g""".stripMargin,
    // Components from the shared recursive-CTE near-dup closure;
    // singletons fall back to their own doc_id (the engine's left-join
    // coalesce), then the identical replicate machinery over clusters.
    "q228_cluster_bootstrap" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |toks AS (SELECT doc_id::VARCHAR AS k, len($tokensSql)::BIGINT AS v
         |  FROM documents WHERE text IS NOT NULL),
         |cl AS (
         |  SELECT coalesce(c.component_id::VARCHAR, t.k) AS cgroup,
         |    count(*)::BIGINT AS cnt, sum(t.v)::BIGINT AS sv
         |  FROM toks t LEFT JOIN comps c ON t.k = c.id::VARCHAR
         |  GROUP BY 1
         |),
         |obs AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n,
         |  coalesce(sum(sv), 0)::BIGINT AS s,
         |  count(*)::BIGINT AS n_units FROM cl),
         |hu AS (
         |  SELECT bs.b, cl.cnt, cl.sv,
         |    ${graft.operators.Resample.poissonHashSql(
                "cb", "bs.b", "cl.cgroup")} AS u
         |  FROM cl CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs
         |),
         |hw AS (
         |  SELECT b, cnt, sv,
         |    ${graft.operators.Resample.poissonWeightFromHashSql("u")} AS w
         |  FROM hu
         |),
         |per AS (
         |  SELECT b, coalesce(sum(w * cnt), 0)::BIGINT AS nb,
         |    coalesce(sum(w * sv), 0)::BIGINT AS sb
         |  FROM hw GROUP BY 1
         |),
         |qd AS (
         |  SELECT b, nb, sb, CASE WHEN nb = 0 THEN (-1)::HUGEINT
         |    ELSE (sb::HUGEINT * 1000000000000000) // nb END AS q
         |  FROM per
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY q, b)::BIGINT AS r FROM qd
         |),
         |pick AS (
         |  SELECT max(CASE WHEN r = 5 THEN sb END)::BIGINT AS lo_num,
         |    max(CASE WHEN r = 5 THEN nb END)::BIGINT AS lo_den,
         |    max(CASE WHEN r = 5 THEN q END)::BIGINT AS lo_scaled,
         |    max(CASE WHEN r = 196 THEN sb END)::BIGINT AS hi_num,
         |    max(CASE WHEN r = 196 THEN nb END)::BIGINT AS hi_den,
         |    max(CASE WHEN r = 196 THEN q END)::BIGINT AS hi_scaled
         |  FROM ranked
         |)
         |SELECT n, s AS sum_total,
         |  (CASE WHEN n = 0 THEN (-1)::HUGEINT
         |    ELSE (s::HUGEINT * 1000000000000000) // n END)::BIGINT
         |    AS mean_scaled,
         |  n_units, 200::BIGINT AS n_reps, 5::BIGINT AS lo_rank,
         |  196::BIGINT AS hi_rank, lo_num, lo_den, lo_scaled,
         |  hi_num, hi_den, hi_scaled
         |FROM obs CROSS JOIN pick""".stripMargin,
    // Same histogram-midrank derivation: tie group ending at cumulative
    // c with cnt members contributes midrank·2 = 2c − cnt + 1.
    "q207_scorer_auc" ->
      s"""WITH base AS (
         |  SELECT $enHits AS s, (lang = 'en') AS p FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL
         |),
         |hist AS (
         |  SELECT s, count(*)::BIGINT AS cnt,
         |    sum(CASE WHEN p THEN 1 ELSE 0 END)::BIGINT AS cp
         |  FROM base GROUP BY 1
         |),
         |cum AS (
         |  SELECT cnt, cp,
         |    sum(cnt) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c
         |  FROM hist
         |),
         |agg AS (
         |  SELECT coalesce(sum(cp), 0)::BIGINT AS n_pos,
         |    coalesce(sum(cnt - cp), 0)::BIGINT AS n_neg,
         |    coalesce(sum(cp * (2 * c - cnt + 1)), 0)::BIGINT AS rank_sum_x2
         |  FROM cum
         |)
         |SELECT n_pos, n_neg, rank_sum_x2,
         |  (rank_sum_x2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
         |  (2 * n_pos * n_neg)::BIGINT AS auc_den
         |FROM agg""".stripMargin,
    // Same per-source counts, same e6-truncated ordering (max = rate
    // desc then key desc; min = rate asc then key asc — the struct
    // lexicographic order), same cross-multiplied exact gap.
    "q208_keep_disparity" ->
      """WITH per AS (
        |  SELECT source AS k, count(*)::BIGINT AS n,
        |    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS kept
        |  FROM documents GROUP BY 1
        |),
        |r AS (SELECT k, n, kept, kept * 1000000 // n AS rate FROM per),
        |mx AS (SELECT k, kept, n FROM r ORDER BY rate DESC, k DESC LIMIT 1),
        |mn AS (SELECT k, kept, n FROM r ORDER BY rate ASC, k ASC LIMIT 1)
        |SELECT (SELECT count(*) FROM per)::BIGINT AS n_groups,
        |  mx.k AS max_group, mx.kept AS max_kept, mx.n AS max_n,
        |  mn.k AS min_group, mn.kept AS min_kept, mn.n AS min_n,
        |  (mx.kept * mn.n - mn.kept * mx.n)::BIGINT AS gap_num,
        |  (mx.n * mn.n)::BIGINT AS gap_den
        |FROM mx, mn""".stripMargin,
    // The same two total-order rankings (cosine desc, id asc; full dims
    // and list_slice to 16), ranks differenced and squared — only ranks
    // enter the rational, so float rounding never crosses the boundary.
    "q205_matryoshka_audit" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding, c.embedding) AS s_full,
        |    list_cosine_similarity(list_slice(q.embedding, 1, 16),
        |                           list_slice(c.embedding, 1, 16)) AS s_trunc
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10
        |),
        |ranked AS (
        |  SELECT query_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY s_full DESC, neighbor_id ASC)::BIGINT AS rf,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY s_trunc DESC, neighbor_id ASC)::BIGINT AS rt
        |  FROM scored
        |)
        |SELECT query_id, count(*)::BIGINT AS n,
        |  sum((rf - rt) * (rf - rt))::BIGINT AS sum_d2,
        |  (count(*)::BIGINT * (count(*)::BIGINT * count(*)::BIGINT - 1)
        |    - 6 * sum((rf - rt) * (rf - rt)))::BIGINT AS rho_num,
        |  (count(*)::BIGINT * (count(*)::BIGINT * count(*)::BIGINT - 1))::BIGINT
        |    AS rho_den
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same ascending (weight, key) total order, same 2·Σi·x − (n+1)·W
    // rational.
    "q206_source_gini" ->
      s"""WITH perkey AS (
         |  SELECT source AS k, sum(len($tokensSql))::BIGINT AS x
         |  FROM documents GROUP BY 1
         |),
         |ranked AS (
         |  SELECT x, row_number() OVER (ORDER BY x ASC, k ASC)::BIGINT AS i
         |  FROM perkey
         |)
         |SELECT count(*)::BIGINT AS n_keys,
         |  coalesce(sum(x), 0)::BIGINT AS total,
         |  (2 * coalesce(sum(i * x), 0)
         |    - (count(*)::BIGINT + 1) * coalesce(sum(x), 0))::BIGINT AS gini_num,
         |  (count(*)::BIGINT * coalesce(sum(x), 0))::BIGINT AS gini_den
         |FROM ranked""".stripMargin,
    // Same three tercile bands, same (item, label) count table, same
    // rearranged Fleiss rational — integer-for-integer.
    "q203_fleiss_kappa" ->
      s"""WITH m AS (
         |  SELECT doc_id, n_chars, len($tokensSql) AS tk,
         |    len(list_distinct($tokensSql)) AS dk
         |  FROM documents
         |),
         |long AS (
         |  SELECT doc_id, CASE WHEN n_chars < 220 THEN 0
         |    WHEN n_chars < 380 THEN 1 ELSE 2 END AS lb FROM m
         |  UNION ALL SELECT doc_id, CASE WHEN tk < 40 THEN 0
         |    WHEN tk < 69 THEN 1 ELSE 2 END FROM m
         |  UNION ALL SELECT doc_id, CASE WHEN dk < 23 THEN 0
         |    WHEN dk < 28 THEN 1 ELSE 2 END FROM m
         |),
         |cnt AS (SELECT doc_id, lb, count(*)::BIGINT AS c FROM long GROUP BY 1, 2),
         |shape AS (
         |  SELECT count(*)::BIGINT AS n_items,
         |    coalesce(min(ri), 0)::BIGINT AS r_min,
         |    coalesce(max(ri), 0)::BIGINT AS r_max
         |  FROM (SELECT doc_id, sum(c)::BIGINT AS ri FROM cnt GROUP BY 1)
         |),
         |t AS (SELECT coalesce(sum(c * c), 0)::BIGINT AS sum_sq FROM cnt),
         |e AS (SELECT coalesce(sum(ct * ct), 0)::BIGINT AS cat_sq
         |      FROM (SELECT lb, sum(c)::BIGINT AS ct FROM cnt GROUP BY 1))
         |SELECT n_items, r_min, r_max, sum_sq, cat_sq,
         |  CASE WHEN r_min = r_max AND r_min >= 2 THEN
         |    (n_items * r_min * (sum_sq - n_items * r_min)
         |      - cat_sq * (r_min - 1))::BIGINT END AS kappa_num,
         |  CASE WHEN r_min = r_max AND r_min >= 2 THEN
         |    ((n_items * n_items * r_min * r_min - cat_sq)
         |      * (r_min - 1))::BIGINT END AS kappa_den
         |FROM shape, t, e""".stripMargin,
    // Same three raters with the third abstaining on doc_id % 3 = 0;
    // alpha rebuilt from the identical per-unit integer pieces (lcm = 2
    // clears every m−1 ∈ {1, 2} exactly).
    "q210_krippendorff_alpha" ->
      s"""WITH m AS (
         |  SELECT doc_id, n_chars, len($tokensSql) AS tk,
         |    len(list_distinct($tokensSql)) AS dk
         |  FROM documents
         |),
         |long AS (
         |  SELECT doc_id, CASE WHEN n_chars < 220 THEN 0
         |    WHEN n_chars < 380 THEN 1 ELSE 2 END AS lb FROM m
         |  UNION ALL SELECT doc_id, CASE WHEN tk < 40 THEN 0
         |    WHEN tk < 69 THEN 1 ELSE 2 END FROM m
         |  UNION ALL SELECT doc_id, CASE WHEN dk < 23 THEN 0
         |    WHEN dk < 28 THEN 1 ELSE 2 END FROM m WHERE doc_id % 3 <> 0
         |),
         |cnt AS (SELECT doc_id, lb, count(*)::BIGINT AS c FROM long GROUP BY 1, 2),
         |pu AS (
         |  SELECT doc_id, sum(c)::BIGINT AS mu, sum(c * c)::BIGINT AS s2
         |  FROM cnt GROUP BY 1 HAVING sum(c) >= 2
         |),
         |nc AS (
         |  SELECT lb, sum(c)::BIGINT AS n_c FROM cnt JOIN pu USING (doc_id)
         |  GROUP BY 1
         |),
         |a1 AS (
         |  SELECT coalesce(sum(mu), 0)::BIGINT AS n, count(*)::BIGINT AS n_units,
         |    coalesce(min(mu), 0)::BIGINT AS m_min,
         |    coalesce(max(mu), 0)::BIGINT AS m_max,
         |    coalesce(sum((mu * mu - s2) * (2 // (mu - 1))), 0)::BIGINT AS d_o_lcm
         |  FROM pu
         |),
         |a2 AS (SELECT coalesce(sum(n_c * n_c), 0)::BIGINT AS cat_sq FROM nc)
         |SELECT n AS n_pairable, n_units, m_min, m_max, 2::BIGINT AS lcm_r,
         |  d_o_lcm, (n * n - cat_sq)::BIGINT AS e_pairs,
         |  CASE WHEN m_max <= 3 AND n >= 2 AND n * n - cat_sq > 0 THEN
         |    (2 * (n * n - cat_sq) - (n - 1) * d_o_lcm)::BIGINT END AS alpha_num,
         |  CASE WHEN m_max <= 3 AND n >= 2 AND n * n - cat_sq > 0 THEN
         |    (2 * (n * n - cat_sq))::BIGINT END AS alpha_den
         |FROM a1, a2""".stripMargin,
    // Same tokenizer, same frequency-of-frequencies fold.
    "q211_chao1_vocabulary" ->
      s"""WITH tok AS (
         |  SELECT unnest($tokensSql) AS t FROM documents
         |),
         |cnt AS (SELECT t, count(*)::BIGINT AS n FROM tok GROUP BY 1),
         |a AS (
         |  SELECT coalesce(sum(n), 0)::BIGINT AS n_tokens,
         |    count(*)::BIGINT AS vocab,
         |    coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS f1,
         |    coalesce(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END), 0)::BIGINT AS f2
         |  FROM cnt
         |)
         |SELECT n_tokens, vocab, f1, f2,
         |  (vocab * 2 * (f2 + 1) + f1 * (f1 - 1))::BIGINT AS chao1_num,
         |  (2 * (f2 + 1))::BIGINT AS chao1_den,
         |  f1 AS gt_unseen_num, n_tokens AS gt_unseen_den
         |FROM a""".stripMargin,
    // Same bigram/unigram counts, same truncated-lift key, same
    // (lift desc, n_ab desc, w1, w2) order.
    "q212_pmi_collocations" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |uni AS (
         |  SELECT t AS w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1
         |),
         |bi AS (
         |  SELECT ts[i.i::INT] AS w1, ts[(i.i + 1)::INT] AS w2,
         |    count(*)::BIGINT AS n_ab
         |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ts), 1))) AS i) i
         |  GROUP BY 1, 2 HAVING count(*) >= 5
         |),
         |lifted AS (
         |  SELECT bi.w1, bi.w2, bi.n_ab, a.n AS n_a, b.n AS n_b,
         |    (bi.n_ab * 1000000000000) // (a.n * b.n) AS lift_e12
         |  FROM bi JOIN uni a ON bi.w1 = a.w
         |          JOIN uni b ON bi.w2 = b.w
         |)
         |SELECT row_number() OVER (ORDER BY lift_e12 DESC, n_ab DESC,
         |    w1 ASC, w2 ASC)::INT AS rank,
         |  w1, w2, n_ab, n_a, n_b, lift_e12::BIGINT AS lift_e12
         |FROM lifted
         |ORDER BY 1 LIMIT 25""".stripMargin,
    // q92's signature/band machinery re-derived (same md5 element hash,
    // same coefficient literals, same band-key string recipe), pairs
    // expanded within <= 4096-sized buckets, exact Jaccard from the
    // same width-10 shingles, matches = component-equal count.
    "q213_lsh_calibration" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
         |),
         |base AS (
         |  SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h FROM sh
         |),
         |co(i, a, b) AS (VALUES
         |$minhash16CoeffRowsSql),
         |sig AS (
         |  SELECT doc_id, i,
         |    min((((a * ((h & 4294967295::UBIGINT))::HUGEINT
         |           + ((a * ((h >> 32))::HUGEINT) % 4294967296) * 4294967296
         |           + b) % 18446744073709551616)
         |         + CASE WHEN ((a * ((h & 4294967295::UBIGINT))::HUGEINT
         |             + ((a * ((h >> 32))::HUGEINT) % 4294967296) * 4294967296
         |             + b) % 18446744073709551616) >= 9223372036854775808
         |           THEN -18446744073709551616 ELSE 0 END)::BIGINT) AS v
         |  FROM base, co
         |  GROUP BY 1, 2
         |),
         |keys AS (
         |  SELECT doc_id, (i // 4) AS band,
         |    (i // 4)::VARCHAR || ',' || string_agg(v::VARCHAR, ',' ORDER BY i) AS key
         |  FROM sig GROUP BY doc_id, (i // 4)
         |),
         |keyed AS (
         |  SELECT doc_id, band,
         |    ('0x' || substr(md5(key), 1, 16))::UBIGINT AS bucket
         |  FROM keys
         |),
         |bsz AS (SELECT band, bucket, count(*) AS n FROM keyed GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM keyed a
         |  JOIN keyed b ON a.band = b.band AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id
         |  JOIN bsz s ON s.band = a.band AND s.bucket = a.bucket
         |    AND s.n <= 4096
         |),
         |pair_inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
         |mtch AS (
         |  SELECT c.id_a, c.id_b,
         |    sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)::BIGINT AS m
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.id_a
         |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
         |  GROUP BY 1, 2
         |)
         |SELECT c.id_a, c.id_b,
         |  coalesce(p.inter, 0)::BIGINT AS inter,
         |  (sa.n + sb.n - coalesce(p.inter, 0))::BIGINT AS uni,
         |  m.m AS sig_matches, 16::BIGINT AS sig_k
         |FROM cand c
         |JOIN sizes sa ON c.id_a = sa.doc_id
         |JOIN sizes sb ON c.id_b = sb.doc_id
         |JOIN mtch m ON m.id_a = c.id_a AND m.id_b = c.id_b
         |LEFT JOIN pair_inter p ON p.id_a = c.id_a AND p.id_b = c.id_b
         |ORDER BY 1, 2""".stripMargin,
    // The q23 components closed transitively, joined with token counts;
    // keep-min-id's token count via arg_min.
    "q214_dedup_roi" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |toks AS (SELECT doc_id AS id, len($tokensSql)::BIGINT AS w FROM documents),
         |cl AS (
         |  SELECT c.component_id, count(*)::BIGINT AS n, sum(t.w)::BIGINT AS tw,
         |    arg_min(t.w, t.id)::BIGINT AS kw
         |  FROM comps c JOIN toks t USING (id)
         |  GROUP BY 1
         |)
         |SELECT count(*)::BIGINT AS n_clusters,
         |  coalesce(sum(n), 0)::BIGINT AS docs_clustered,
         |  coalesce(sum(n - 1), 0)::BIGINT AS docs_removed,
         |  coalesce(sum(tw), 0)::BIGINT AS tokens_clustered,
         |  coalesce(sum(tw - kw), 0)::BIGINT AS tokens_removed
         |FROM cl""".stripMargin,
    "q215_dedup_roi_by_size" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |toks AS (SELECT doc_id AS id, len($tokensSql)::BIGINT AS w FROM documents),
         |cl AS (
         |  SELECT c.component_id, count(*)::BIGINT AS n, sum(t.w)::BIGINT AS tw,
         |    arg_min(t.w, t.id)::BIGINT AS kw
         |  FROM comps c JOIN toks t USING (id)
         |  GROUP BY 1
         |)
         |SELECT n AS cluster_size, count(*)::BIGINT AS n_clusters,
         |  sum(tw)::BIGINT AS tokens_total,
         |  sum(tw - kw)::BIGINT AS tokens_removed
         |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    // Grouping by the raw prefix LIST (engine groups by md5 of the
    // U+0001-joined prefix — identical partitioning on any corpus whose
    // tokens cannot contain U+0001, which whitespace splitting ensures).
    "q204_prefix_cache_audit" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |k AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
         |p AS (
         |  SELECT k.k, list_slice(t.ts, 1, k.k) AS pre
         |  FROM t, k WHERE len(t.ts) >= k.k
         |),
         |g AS (SELECT k, pre, count(*)::BIGINT AS sz FROM p GROUP BY 1, 2)
         |SELECT k::BIGINT AS prefix_tokens,
         |  sum(sz)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_groups,
         |  coalesce(sum(CASE WHEN sz > 1 THEN sz END), 0)::BIGINT AS docs_in_shared,
         |  coalesce(sum(CASE WHEN sz > 1 THEN (sz - 1) * k END), 0)::BIGINT
         |    AS cacheable_tokens
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // The greedy LPT walk replayed step-by-step: the recursive frontier
    // advances one document per source per iteration, carrying the four
    // shard loads; the CASE chain picks the first minimal load = lowest
    // index on ties, the same rule as the generator's strict-< argmin.
    "q200_lpt_shards" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT source, doc_id, w,
         |    row_number() OVER (PARTITION BY source ORDER BY w DESC, doc_id) AS rn
         |  FROM (SELECT source, doc_id, len($tokensSql)::BIGINT AS w FROM documents)
         |),
         |walk AS (
         |  SELECT source, 0::BIGINT AS rn, NULL::BIGINT AS doc_id, NULL::INT AS shard,
         |    0::BIGINT AS l0, 0::BIGINT AS l1, 0::BIGINT AS l2, 0::BIGINT AS l3
         |  FROM (SELECT DISTINCT source FROM d)
         |  UNION ALL
         |  SELECT w.source, dd.rn, dd.doc_id,
         |    CASE WHEN w.l0 <= w.l1 AND w.l0 <= w.l2 AND w.l0 <= w.l3 THEN 0
         |         WHEN w.l1 <= w.l2 AND w.l1 <= w.l3 THEN 1
         |         WHEN w.l2 <= w.l3 THEN 2 ELSE 3 END::INT AS shard,
         |    w.l0 + CASE WHEN w.l0 <= w.l1 AND w.l0 <= w.l2 AND w.l0 <= w.l3
         |                THEN dd.w ELSE 0 END AS l0,
         |    w.l1 + CASE WHEN NOT (w.l0 <= w.l1 AND w.l0 <= w.l2 AND w.l0 <= w.l3)
         |                 AND (w.l1 <= w.l2 AND w.l1 <= w.l3)
         |                THEN dd.w ELSE 0 END AS l1,
         |    w.l2 + CASE WHEN NOT (w.l0 <= w.l1 AND w.l0 <= w.l2 AND w.l0 <= w.l3)
         |                 AND NOT (w.l1 <= w.l2 AND w.l1 <= w.l3)
         |                 AND w.l2 <= w.l3
         |                THEN dd.w ELSE 0 END AS l2,
         |    w.l3 + CASE WHEN NOT (w.l0 <= w.l1 AND w.l0 <= w.l2 AND w.l0 <= w.l3)
         |                 AND NOT (w.l1 <= w.l2 AND w.l1 <= w.l3)
         |                 AND NOT (w.l2 <= w.l3)
         |                THEN dd.w ELSE 0 END AS l3
         |  FROM walk w JOIN d dd ON dd.source = w.source AND dd.rn = w.rn + 1
         |)
         |SELECT a.source, a.shard, count(*)::BIGINT AS n_docs,
         |  sum(d.w)::BIGINT AS load_tokens
         |FROM (SELECT source, doc_id, shard FROM walk WHERE rn > 0) a
         |JOIN d USING (source, doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Two chained lower-rank medians (the q130 rank rule), then the
    // cross-multiplied k = 3/1 flag rule.
    "q198_mad_outliers" ->
      """WITH v AS (SELECT source AS g, n_chars::BIGINT AS v FROM documents),
        |r1 AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n FROM v),
        |m1 AS (SELECT g, max(CASE WHEN rn = (n - 1) * 1 // 2 + 1 THEN v END)::BIGINT AS med
        |       FROM r1 GROUP BY g),
        |d AS (SELECT v.g, abs(v.v - m1.med)::BIGINT AS d, m1.med FROM v JOIN m1 USING (g)),
        |r2 AS (SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS rn,
        |         count(*) OVER (PARTITION BY g) AS n FROM d),
        |m2 AS (SELECT g, max(CASE WHEN rn = (n - 1) * 1 // 2 + 1 THEN d END)::BIGINT AS mad
        |       FROM r2 GROUP BY g)
        |SELECT d.g AS source, count(*)::BIGINT AS n, max(d.med)::BIGINT AS med,
        |  max(m2.mad)::BIGINT AS mad,
        |  sum(CASE WHEN d.d * 1 > m2.mad * 3 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |  max(d.d)::BIGINT AS max_dev
        |FROM d JOIN m2 USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q196_padding_audit" ->
      s"""WITH d AS (SELECT len($tokensSql)::BIGINT AS l FROM documents
         |  WHERE text IS NOT NULL),
         |h AS (SELECT l, count(*)::BIGINT AS cnt FROM d GROUP BY 1),
         |c AS (SELECT l, cnt, sum(cnt) OVER (ORDER BY l)::BIGINT AS cum FROM h),
         |a AS (
         |  SELECT sum(l * cnt)::BIGINT AS n_tokens, sum(cnt)::BIGINT AS n,
         |    max(l)::BIGINT AS maxlen,
         |    sum((cum // 32 - (cum - cnt) // 32) * l)::BIGINT AS fms
         |  FROM c
         |),
         |p AS (
         |  SELECT n_tokens, n, maxlen, (n + 31) // 32 AS n_batches,
         |    maxlen * n AS pg,
         |    32 * fms + CASE WHEN n % 32 <> 0 THEN maxlen * (n % 32) ELSE 0 END AS ps
         |  FROM a
         |)
         |SELECT * FROM (
         |  SELECT 'global_pad' AS strategy, n_batches, n_tokens,
         |    (pg - n_tokens)::BIGINT AS n_padding,
         |    ((n_tokens * 1000000) // pg)::BIGINT AS utilization_e6 FROM p
         |  UNION ALL
         |  SELECT 'sorted_batches', n_batches, n_tokens,
         |    (ps - n_tokens)::BIGINT, ((n_tokens * 1000000) // ps)::BIGINT FROM p
         |) ORDER BY strategy""".stripMargin,
    // Same length histogram, same candidate list, same integer
    // millionths convention.
    "q230_truncation_frontier" ->
      s"""WITH d AS (SELECT len($tokensSql)::BIGINT AS l FROM documents
         |  WHERE text IS NOT NULL),
         |h AS (SELECT l, count(*)::BIGINT AS cnt FROM d GROUP BY 1),
         |ls AS (SELECT unnest([16, 32, 48, 64, 96, 128])::BIGINT AS context_len),
         |a AS (
         |  SELECT ls.context_len,
         |    sum(cnt)::BIGINT AS n_docs,
         |    coalesce(sum(CASE WHEN l > ls.context_len THEN cnt ELSE 0 END),
         |      0)::BIGINT AS docs_truncated,
         |    sum(l * cnt)::BIGINT AS tokens_total,
         |    coalesce(sum(CASE WHEN l > ls.context_len
         |      THEN (l - ls.context_len) * cnt ELSE 0 END), 0)::BIGINT
         |      AS tokens_lost
         |  FROM h CROSS JOIN ls GROUP BY 1
         |)
         |SELECT context_len, n_docs, docs_truncated, tokens_total,
         |  tokens_lost, (tokens_total - tokens_lost)::BIGINT AS tokens_kept,
         |  (CASE WHEN tokens_total = 0 THEN 0
         |    ELSE tokens_lost * 1000000 // tokens_total END)::BIGINT AS loss_e6
         |FROM a ORDER BY context_len""".stripMargin,
    "q32_embed_quantize" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
        |  FROM embeddings
        |)
        |SELECT vec_id, i.i::INT AS dim,
        |  (CASE WHEN amax = 0 THEN 0
        |        ELSE CAST(least(greatest(
        |          floor(embedding[(i.i + 1)::INT]::DOUBLE / (amax / 127) + 0.5),
        |          -127.0), 127.0) AS INT)
        |   END) AS q
        |FROM base, LATERAL (SELECT unnest(range(len(embedding))) AS i) i
        |ORDER BY vec_id, dim""".stripMargin,
    "q33_quantized_topk" -> annQuantSql,
    // Recall of the int8-quantized scoring pass against the exact baseline
    // — same derivations as the q17/q33 oracles.
    "q69_quantized_recall" ->
      s"""WITH exact AS ($annExactSql),
         |quant AS ($annQuantSql)
         |SELECT e.query_id, count(i.neighbor_id)::BIGINT AS hits,
         |  count(*)::BIGINT AS k
         |FROM exact e LEFT JOIN quant i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Replicates ivfTopK exactly: same deterministic centroids (first 16 by
    // id), same nearest-cell assignment (ties to lower cid), same 4-probe
    // re-rank. Approximate ANN is still deterministic, so it oracles.
    "q19_ann_ivf" -> annIvfSql,
    // Same IVF chain, re-rank candidates restricted to label-3 vectors.
    "q96_filtered_ann" -> annIvfSqlWith(
      "\n  AND a.id IN (SELECT vec_id FROM embeddings WHERE label = 3)"),
    // Every SQL-surface value re-derived: md5-64 of the scrub replica,
    // the q85 score, shingle count, and the auditable simhash (shared
    // CTE chain), with UBIGINT results re-biased to Spark's signed longs.
    "q97_sql_surface" ->
      s"""WITH $simhashCtesSql,
         |base AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5($scrubSql), 1, 16))::UBIGINT AS sfp,
         |    coalesce(list_sum(list_transform($tokensSql,
         |      t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |             & 2047::UBIGINT)::BIGINT - 1024))), 0)::BIGINT AS q_score,
         |    len($shingleSql)::INT AS n_shingles
         |  FROM documents
         |)
         |SELECT b.doc_id,
         |  (CASE WHEN b.sfp >= 9223372036854775808::UBIGINT
         |        THEN b.sfp::HUGEINT - 18446744073709551616::HUGEINT
         |        ELSE b.sfp::HUGEINT END)::BIGINT AS scrub_fp,
         |  b.q_score,
         |  b.n_shingles,
         |  (CASE WHEN s.sim >= 9223372036854775808::UBIGINT
         |        THEN s.sim::HUGEINT - 18446744073709551616::HUGEINT
         |        ELSE s.sim::HUGEINT END)::BIGINT AS sim
         |FROM base b JOIN sim s USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // Recall accounting: exact∩IVF per query over the SAME two
    // derivations q17/q19 oracle — a left join so 0-hit queries appear.
    "q66_ann_recall" ->
      s"""WITH exact AS ($annExactSql),
         |ivf AS ($annIvfSql)
         |SELECT e.query_id, count(i.neighbor_id)::BIGINT AS hits,
         |  count(*)::BIGINT AS k
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q125_perceptron_weights" ->
      s"""$perceptronCtes
         |SELECT b AS bucket, w AS weight FROM w3
         |WHERE w <> 0 ORDER BY bucket""".stripMargin,
    "q126_perceptron_apply" ->
      s"""$perceptronCtes,
         |m4 AS (SELECT o.doc_id, sum(w3.w)::BIGINT AS margin
         |       FROM occ o JOIN w3 ON o.b = w3.b GROUP BY 1),
         |pred AS (
         |  SELECT d.source, d.lang = 'en' AS true_en,
         |    coalesce(m4.margin, 0) > 0 AS pred_en
         |  FROM documents d LEFT JOIN m4 USING (doc_id))
         |SELECT source, count(*)::BIGINT AS n,
         |  sum(CASE WHEN true_en THEN 1 ELSE 0 END)::BIGINT AS n_true_en,
         |  sum(CASE WHEN pred_en THEN 1 ELSE 0 END)::BIGINT AS n_pred_en,
         |  sum(CASE WHEN true_en = pred_en THEN 1 ELSE 0 END)::BIGINT AS n_correct
         |FROM pred GROUP BY 1 ORDER BY source""".stripMargin,
    "q124_profile" ->
      """WITH stacked AS (
        |  SELECT 'l_linestatus' AS col_name, l_linestatus AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity_e2',
        |    CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', l_returnflag FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem
        |),
        |pv AS (
        |  SELECT col_name, value, count(*)::BIGINT AS cnt
        |  FROM stacked GROUP BY 1, 2
        |)
        |SELECT col_name,
        |  sum(cnt)::BIGINT AS n_rows,
        |  sum(CASE WHEN value IS NULL THEN cnt ELSE 0 END)::BIGINT AS n_null,
        |  count(CASE WHEN value IS NOT NULL THEN 1 END)::BIGINT AS n_distinct,
        |  min(value) AS min_value,
        |  max(value) AS max_value,
        |  sum(CASE WHEN value IS NOT NULL THEN cnt * length(value) ELSE 0 END)::BIGINT AS total_len
        |FROM pv GROUP BY 1 ORDER BY col_name""".stripMargin,
    "q121_ann_ivf_pq" -> annIvfPqSql,
    "q127_ann_pq_kmeans" -> annIvfPqSqlWith(kmeansCentCtes, "c2", nProbe = 3),
    "q122_pq_recall" ->
      s"""WITH exact AS ($annExactSql),
         |pq AS ($annIvfPqSql)
         |SELECT e.query_id, count(p.neighbor_id)::BIGINT AS hits,
         |  count(*)::BIGINT AS k
         |FROM exact e LEFT JOIN pq p
         |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same pair derivation as q14, then min-partner per greater member.
    "q20_dedup_canonical" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shingleSql) AS s FROM documents
         |),
         |pair_inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::INT AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*)::INT AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM pair_inter
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE inter * 4 >= (sa.n + sb.n - inter) * 3
         |)
         |SELECT id_b AS id, min(id_a) AS canonical_id
         |FROM pairs GROUP BY id_b ORDER BY id""".stripMargin,
    // Transitive closure via recursive CTE: u's component = min id reachable
    // over the undirected pair graph (same pairs derivation as q14/q20).
    "q23_dedup_components" ->
      s"""WITH RECURSIVE $componentsCtesSql
         |SELECT id, component_id FROM comps ORDER BY id""".stripMargin,
    // The full 5-round power iteration restated as generated CTEs — same
    // graph, same e12 integer arithmetic, value-exact.
    "q138_pagerank_bipartite" -> pagerankSql(5),
    // The same four integer metrics and closed bounds, restated.
    "q151_quality_gate" ->
      """WITH m AS (
        |  SELECT count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_text,
        |    (count(*) - count(DISTINCT doc_id))::BIGINT AS dup_ids,
        |    max(n_chars)::BIGINT AS max_chars
        |  FROM documents),
        |r AS (
        |  SELECT 'n_rows' AS "check", n_rows AS value,
        |    1::BIGINT AS lo, 1000000000::BIGINT AS hi FROM m
        |  UNION ALL SELECT 'null_text', null_text, 0, 0 FROM m
        |  UNION ALL SELECT 'dup_ids', dup_ids, 0, 0 FROM m
        |  UNION ALL SELECT 'max_chars', max_chars, 0, 100 FROM m)
        |SELECT "check", value, lo, hi,
        |  value >= lo AND value <= hi AS pass
        |FROM r ORDER BY "check" """.stripMargin,
    // The same md5('11:'||id) order, ranked per source, top 5.
    "q146_sample_per_key" ->
      """SELECT source, rank::INT AS rank, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY (('0x' || substr(md5('11:' || doc_id::VARCHAR), 1, 16))::UBIGINT
        |              >> 1) ASC, doc_id ASC) AS rank
        |  FROM documents)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // Tickets unrolled with generate_series, the same md5('7:'||id||':'||i)
    // draws, min per doc, smallest 40 priorities.
    "q154_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, least(n_chars // 50, 10) AS weight
        |  FROM documents WHERE least(n_chars // 50, 10) > 0),
        |t AS (
        |  SELECT doc_id, weight,
        |    unnest(generate_series(0, weight - 1)) AS i
        |  FROM w),
        |pr AS (
        |  SELECT doc_id, weight,
        |    min(('0x' || substr(md5('7:' || doc_id::VARCHAR || ':'
        |      || i::VARCHAR), 1, 16))::UBIGINT >> 1)::BIGINT AS priority
        |  FROM t GROUP BY 1, 2)
        |SELECT doc_id, weight::BIGINT AS weight, priority
        |FROM pr ORDER BY priority, doc_id LIMIT 40""".stripMargin,
    // The same distinct (doc, term) relation; df per term, first-8
    // postings by ranked string_agg.
    "q155_posting_lists" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest($tokensSql) AS term FROM documents)),
         |r AS (
         |  SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
         |    count(*) OVER (PARTITION BY term) AS df
         |  FROM tok)
         |SELECT term, df::BIGINT AS df,
         |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
         |    FILTER (WHERE rn <= 8) AS postings
         |FROM r WHERE df >= 2 GROUP BY term, df
         |ORDER BY term""".stripMargin,
    // Same hash order ranked per source, same ceil(n/5) cut.
    "q177_stratified_split" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      (('0x' || substr(md5('23:' || doc_id::VARCHAR), 1, 16))::UBIGINT
        |       >> 1) ASC, doc_id ASC) AS rank,
        |    count(*) OVER (PARTITION BY source) AS n_k
        |  FROM documents)
        |SELECT source, rank::INT AS rank, doc_id, n_k::BIGINT AS n_k
        |FROM r WHERE rank <= (n_k + 4) // 5
        |ORDER BY source, rank""".stripMargin,
    // Same integer water-filling restated.
    "q175_mix_plan" ->
      """WITH spec(source, t_num) AS (VALUES
        |  ('src0', 40), ('src1', 35), ('src2', 25)),
        |avail AS (
        |  SELECT d.source, s.t_num::BIGINT AS t_num,
        |    count(*)::BIGINT AS available
        |  FROM documents d JOIN spec s USING (source)
        |  GROUP BY 1, 2),
        |t AS (SELECT min(available * 100 // t_num)::BIGINT AS t_total
        |      FROM avail)
        |SELECT source, available, t_num,
        |  t_num * t_total // 100 AS planned_keep,
        |  available * 100 // t_num = t_total AS binding
        |FROM avail, t ORDER BY source""".stripMargin,
    // Little-endian int16 samples off the hex dump (bytes 2k, 2k+1 →
    // hex chars 4k+1..4k+4), signed re-bias at 32768, same 50-sample
    // windows.
    "q173_audio_energy" ->
      """WITH base AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS n,
        |         hex(encode(text)) AS hx
        |  FROM documents),
        |samp AS (
        |  SELECT doc_id, hx, unnest(range((n // 2)::INT)) AS k FROM base),
        |hv AS (
        |  SELECT doc_id, k,
        |    (ord(substr(hx, (4*k+1)::INT, 1)) - CASE WHEN substr(hx, (4*k+1)::INT, 1) <= '9' THEN 48 ELSE 55 END) AS h1,
        |    (ord(substr(hx, (4*k+2)::INT, 1)) - CASE WHEN substr(hx, (4*k+2)::INT, 1) <= '9' THEN 48 ELSE 55 END) AS h2,
        |    (ord(substr(hx, (4*k+3)::INT, 1)) - CASE WHEN substr(hx, (4*k+3)::INT, 1) <= '9' THEN 48 ELSE 55 END) AS h3,
        |    (ord(substr(hx, (4*k+4)::INT, 1)) - CASE WHEN substr(hx, (4*k+4)::INT, 1) <= '9' THEN 48 ELSE 55 END) AS h4
        |  FROM samp),
        |sm AS (
        |  SELECT doc_id, k,
        |    CASE WHEN (16*h3 + h4) * 256 + (16*h1 + h2) >= 32768
        |         THEN (16*h3 + h4) * 256 + (16*h1 + h2) - 65536
        |         ELSE (16*h3 + h4) * 256 + (16*h1 + h2) END AS s
        |  FROM hv)
        |SELECT doc_id, (k // 50)::INT AS win, count(*)::INT AS n_samples,
        |  sum(s::BIGINT * s)::BIGINT AS energy, max(abs(s))::INT AS peak
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin,
    // Dominance stated definitionally: a doc survives iff NO same-source
    // doc has strictly higher q85 score and at-least-equal length.
    "q172_pareto_frontier" ->
      s"""WITH toks AS (SELECT doc_id, source, n_chars, $tokensSql AS ts
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source, n_chars,
         |    coalesce(list_sum(list_transform(ts,
         |      t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |             & 2047::UBIGINT)::BIGINT - 1024))), 0)::BIGINT AS quality
         |  FROM toks)
         |SELECT source, doc_id, quality, n_chars FROM sc b
         |WHERE NOT EXISTS (SELECT 1 FROM sc a WHERE a.source = b.source
         |  AND a.quality > b.quality AND a.n_chars >= b.n_chars)
         |ORDER BY source, doc_id""".stripMargin,
    // Same token counts, same (n desc, t) ranking and cumulative window.
    "q165_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT unnest($tokensSql) AS t FROM documents),
         |c AS (
         |  SELECT t, count(*)::BIGINT AS n FROM tok GROUP BY 1),
         |tt AS (SELECT sum(n)::BIGINT AS total FROM c),
         |r AS (
         |  SELECT t, n,
         |    row_number() OVER (ORDER BY n DESC, t) AS rank,
         |    sum(n) OVER (ORDER BY n DESC, t
         |      ROWS UNBOUNDED PRECEDING) AS cum_n
         |  FROM c)
         |SELECT t, n, rank::INT AS rank,
         |  (cum_n * 1000000 // total)::BIGINT AS cum_share_e6
         |FROM r, tt WHERE rank <= 30 ORDER BY rank""".stripMargin,
    // The same 3-grams from the same token list, 1-based list slicing.
    "q162_ngram_generator_df" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS l FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, ngram FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(greatest(len(l) - 2, 0)),
         |      i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS ngram
         |    FROM toks))
         |SELECT ngram, count(*)::BIGINT AS df FROM g GROUP BY 1
         |ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    // Direct token-membership restatement of the two semi joins.
    "q159_conjunctive_search" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE list_contains($tokensSql, 'spark')
         |  AND list_contains($tokensSql, 'window')
         |ORDER BY doc_id""".stripMargin,
    // The same md5-64 top-63 value, bucket = u % 32, sign = bit 32,
    // signed sums with exact-zero buckets dropped.
    "q142_hashed_tf_vectors" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensSql) AS t FROM documents),
         |u AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5(t), 1, 16))::UBIGINT >> 1) AS u
         |  FROM tok),
         |coord AS (
         |  SELECT doc_id, (u % 32)::BIGINT AS bucket,
         |    CASE WHEN ((u >> 32) % 2) = 1 THEN 1 ELSE -1 END AS s
         |  FROM u)
         |SELECT doc_id, bucket, sum(s)::BIGINT AS tf
         |FROM coord GROUP BY 1, 2 HAVING sum(s) <> 0
         |ORDER BY doc_id, bucket""".stripMargin,
    // q23's cluster universe + the q30 md5-threshold rule keyed by
    // CLUSTER id (4/5 train): near-dups provably co-located per split.
    "q139_cluster_safe_split" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |clust AS (
         |  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN (('0x' || substr(md5(cluster_id::VARCHAR), 1, 16))::UBIGINT
         |         >> 1) < 7378697629483820646::UBIGINT
         |       THEN 'train' ELSE 'test' END AS split
         |FROM clust ORDER BY doc_id""".stripMargin,
    // q23's components left-joined onto the full doc universe (absent =
    // singleton cluster of itself), 1e6 integer-div weight per member.
    "q136_soft_dedup_weights" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |clust AS (
         |  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id),
         |csizes AS (
         |  SELECT cluster_id, count(*)::BIGINT AS n_members
         |  FROM clust GROUP BY 1)
         |SELECT cl.doc_id, cl.cluster_id, s.n_members,
         |  (1000000 // s.n_members)::BIGINT AS weight_e6
         |FROM clust cl JOIN csizes s USING (cluster_id)
         |ORDER BY cl.doc_id""".stripMargin,
    // keep-best per component: the q23 component chain joined with the
    // q85 hashed-weight score, argmax by (score desc, id asc).
    "q93_dedup_keep_best" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |scored AS (
         |  SELECT doc_id, coalesce(list_sum(list_transform($tokensSql,
         |    t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |           & 2047::UBIGINT)::BIGINT - 1024))), 0)::BIGINT AS score
         |  FROM documents),
         |sel AS (
         |  SELECT c.component_id, c.id, s.score,
         |    row_number() OVER (PARTITION BY c.component_id
         |                       ORDER BY s.score DESC, c.id) AS rn,
         |    count(*) OVER (PARTITION BY c.component_id) AS n_members
         |  FROM comps c JOIN scored s ON c.id = s.doc_id)
         |SELECT component_id, id AS kept_id, score AS kept_score,
         |  n_members::BIGINT AS n_members
         |FROM sel WHERE rn = 1 ORDER BY component_id""".stripMargin,
    // Same pairs derivation as q14/q23, folded by unordered source pair.
    // (The recursive reach/comps CTEs in the shared block go unreferenced
    // here and DuckDB prunes them.)
    "q98_cross_source_neardup" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |  greatest(sa.source, sb.source) AS source_b,
         |  count(*)::BIGINT AS n_pairs
         |FROM pairs p
         |JOIN src sa ON p.id_a = sa.doc_id
         |JOIN src sb ON p.id_b = sb.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Definitional batch×corpus Jaccard over the same 10-gram shingles as
    // q14 — no banding on the oracle side, proving the incremental LSH
    // path's recall exact at threshold 3/4 on this corpus.
    "q99_incremental_neardup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, unnest($shingleSql) AS s FROM documents
         |),
         |bsh AS (SELECT doc_id, s FROM sh WHERE source IN ('src11', 'src12')),
         |csh AS (SELECT doc_id, s FROM sh WHERE source NOT IN ('src11', 'src12')),
         |pair_inter AS (
         |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |    count(*)::INT AS inter
         |  FROM bsh b JOIN csh c ON b.s = c.s
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*)::INT AS n FROM sh GROUP BY 1)
         |SELECT batch_id, corpus_id, inter, (sb.n + sc.n - inter)::INT AS uni
         |FROM pair_inter
         |JOIN sizes sb ON batch_id = sb.doc_id
         |JOIN sizes sc ON corpus_id = sc.doc_id
         |WHERE inter * 4 >= (sb.n + sc.n - inter) * 3
         |ORDER BY batch_id, corpus_id""".stripMargin,
    // Same tokens, same bigram derivation (range is upper-exclusive, so
    // i in 1..len-1), same integer arithmetic end to end.
    "q103_bigram_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |bi AS (
         |  SELECT doc_id, ts[i.i::INT] AS w1, ts[(i.i + 1)::INT] AS w2
         |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ts), 1))) AS i) i
         |),
         |lm AS (SELECT w1, w2, count(*)::BIGINT AS cab FROM bi GROUP BY 1, 2),
         |ca AS (SELECT w1, sum(cab)::BIGINT AS c FROM lm GROUP BY 1),
         |scored AS (
         |  SELECT lm.w1, lm.w2, (cab * 1000000) // ca.c AS s
         |  FROM lm JOIN ca ON lm.w1 = ca.w1
         |),
         |perdoc AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(s)::BIGINT AS s_sum
         |  FROM bi JOIN scored ON bi.w1 = scored.w1 AND bi.w2 = scored.w2
         |  GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  coalesce(p.s_sum // p.n_bigrams, 0)::BIGINT AS mean_transition_e6
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // The same smoothed-ratio derivation end to end; sums cast ::BIGINT
    // before arithmetic because DuckDB's sum() yields HUGEINT.
    "q112_dsir_weights" ->
      s"""WITH $dsirCtesSql
         |SELECT d.doc_id,
         |  coalesce(n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(w_sum, 0)::BIGINT AS w_sum,
         |  coalesce(w_sum // n_tokens, 0)::BIGINT AS mean_w_e6
         |FROM documents d LEFT JOIN per USING (doc_id)
         |WHERE d.source <> 'src1'
         |ORDER BY doc_id""".stripMargin,
    // q112's weight chain + the md5('7:'||id) uniform vs the e6-capped
    // weight — the identical Bernoulli keep rule, restated off-Spark.
    "q140_dsir_selection" ->
      s"""WITH $dsirCtesSql,
         |wtd AS (
         |  SELECT d.doc_id,
         |    coalesce(w_sum // n_tokens, 0)::BIGINT AS mean_w_e6
         |  FROM documents d LEFT JOIN per USING (doc_id)
         |  WHERE d.source <> 'src1'),
         |sel AS (
         |  SELECT doc_id, mean_w_e6,
         |    ((('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 16))::UBIGINT
         |      >> 1) % 1000000::UBIGINT)::BIGINT AS u_e6
         |  FROM wtd)
         |SELECT doc_id, mean_w_e6, u_e6,
         |  u_e6 < least(mean_w_e6, 1000000) AS kept
         |FROM sel ORDER BY doc_id""".stripMargin,
    // Same frame grid ((n+63)//64 frames, substr truncation = short last
    // frame), same md5-of-hex-slice key, re-biased to Spark's signed view.
    "q104_frame_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(substr(hx, (i.i * 128 + 1)::BIGINT, 128::BIGINT)),
        |     1, 16))::UBIGINT AS fhu
        |  FROM p, LATERAL (SELECT unnest(range(0, (n + 63) // 64)) AS i) i
        |  WHERE n > 0
        |),
        |g AS (
        |  SELECT fhu, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |    count(*)::BIGINT AS n_occ
        |  FROM f GROUP BY 1
        |)
        |SELECT CASE WHEN fhu >= 9223372036854775808::UBIGINT
        |            THEN (fhu::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
        |            ELSE fhu::BIGINT END AS fh,
        |  n_docs, n_occ
        |FROM g WHERE n_docs >= 2
        |ORDER BY fh""".stripMargin,
    // Same boilerplate definition as q72 (trimmed non-empty line content in
    // >= 3 distinct docs) re-derived on the raw line STRINGS — no hashing
    // step, so the oracle independently re-checks the md5-keyed Spark path.
    // The docs CTE re-plants the same two footer lines as the Spark side.
    "q100_boilerplate_removal" ->
      """WITH docs AS (
        |  SELECT doc_id, text || chr(10) || 'subscribe to ' || source ||
        |    ' weekly' || chr(10) ||
        |    '(c) corpus collective - all rights reserved' AS text
        |  FROM documents
        |),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs),
        |lines AS (
        |  SELECT doc_id, i.i, l[i.i::INT] AS line
        |  FROM ls, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) i
        |),
        |hot AS (
        |  SELECT trim(line) AS t FROM lines WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        |),
        |kept AS (
        |  SELECT doc_id, i, line FROM lines
        |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.t = trim(lines.line))
        |),
        |agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY 1
        |)
        |SELECT l.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  (len(l.l) - coalesce(a.n_kept, 0))::INT AS n_removed
        |FROM ls l LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // checksum: sum of unsigned BYTE values of the UTF-8 payload, computed
    // from the hex encoding of the blob (two hex digits per byte) — agrees
    // with StubDecoder for any input, ASCII or not.
    "q18_multimodal_meta" ->
      """SELECT doc_id, 'image/stub' AS media_type,
        |  octet_length(encode(text))::INT AS n_bytes,
        |  (64 + octet_length(encode(text)) % 512)::INT AS width,
        |  (64 + (octet_length(encode(text)) // 2) % 512)::INT AS height,
        |  3::INT AS channels,
        |  list_sum(list_transform(range(1, octet_length(encode(text)) + 1),
        |    i -> 16*(ord(substr(hex(encode(text)), (2*i-1)::INT, 1)) -
        |             CASE WHEN substr(hex(encode(text)), (2*i-1)::INT, 1) <= '9'
        |                  THEN 48 ELSE 55 END)
        |       + (ord(substr(hex(encode(text)), (2*i)::INT, 1)) -
        |          CASE WHEN substr(hex(encode(text)), (2*i)::INT, 1) <= '9'
        |               THEN 48 ELSE 55 END)))::BIGINT AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Identical RE2-safe patterns re-run in DuckDB ('g' = global, matching
    // Spark's replace-all default), same order: email, intl phone, bare
    // phone, IPv4. The raw blob is rebuilt with the same integer/concat
    // arithmetic (custkeys are positive, so % == pmod).
    "q51_pii_redaction" ->
      """WITH raw AS (
        |  SELECT c_custkey,
        |    c_name || ' <' || lower(regexp_replace(c_name, '#', '.', 'g')) ||
        |    '@example.com> tel +1 555-' ||
        |    lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-' ||
        |    lpad((c_custkey * 7 % 10000)::VARCHAR, 4, '0') ||
        |    ' alt 555-000-1234 from 10.' ||
        |    (c_custkey % 256)::VARCHAR || '.0.' || (c_nationkey % 256)::VARCHAR AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g'),
        |    '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM raw ORDER BY c_custkey""".stripMargin,

    // Same wrap, same two-regex strip (tags to spaces, whitespace collapse),
    // same trim. chr(10) is the literal newline in the Spark-side markup.
    "q52_html_strip" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    '<html><p class="d">' || text || '</p>' || chr(10) ||
        |      '<br/><div>src=' || source || '</div></html>',
        |    '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS stripped
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB's nfc_normalize is the independent Unicode-NFC implementation;
    // chr(769) is U+0301 COMBINING ACUTE ACCENT. length = code points in
    // both engines; md5 of the UTF-8 bytes in both engines.
    "q53_nfc_normalize" ->
      """WITH r AS (SELECT doc_id, text || ' cafe' || chr(769) AS raw FROM documents)
        |SELECT doc_id, length(raw)::INT AS n_chars_raw,
        |  length(nfc_normalize(raw))::INT AS n_chars_nfc,
        |  md5(nfc_normalize(raw)) AS fp_nfc
        |FROM r ORDER BY doc_id""".stripMargin,

    "q54_lsh_neardup" -> lshNearDupOracleSql,

    "q55_ann_ivf_kmeans" -> kmeansIvfOracleSql,

    "q84_semantic_dedup" -> semanticDedupOracleSql,

    // Same clustering CTEs as q84, aggregated to the one-row cell audit.
    "q86_semantic_cell_stats" ->
      s"""WITH h AS (
         |  SELECT vec_id, embedding,
         |    xor(('0x' || substr(md5(vec_id::VARCHAR), 1, 16))::UBIGINT,
         |        9223372036854775808::UBIGINT) AS hkey
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT (row_number() OVER (ORDER BY hkey, vec_id) - 1)::INT AS cid,
         |         embedding AS cvec
         |  FROM h ORDER BY hkey, vec_id LIMIT 8
         |),
         |${kmeansIterSql("c0", 1)},
         |${kmeansIterSql("c1", 2)},
         |assign AS (
         |  SELECT id, cid FROM (
         |    SELECT e.vec_id AS id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
         |    FROM embeddings e, c2 c)
         |  WHERE rn = 1
         |),
         |cells AS (SELECT cid, count(*)::BIGINT AS n FROM assign GROUP BY cid)
         |SELECT count(*)::BIGINT AS n_cells,
         |  coalesce(sum(n), 0)::BIGINT AS n_vectors,
         |  coalesce(max(n), 0)::BIGINT AS largest_cell,
         |  coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS candidate_pairs
         |FROM cells""".stripMargin,

    // Same admission order (the UBIGINT hash xor 2^63 sorts like Spark's
    // signed long — the q79 re-bias), same token weights, and the prefix
    // sum stated definitionally as one cumulative window.
    "q87_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, len($tokensSql)::BIGINT AS n_tokens,
         |    xor(('0x' || substr(md5('11:' || doc_id::VARCHAR), 1, 16))::UBIGINT,
         |        9223372036854775808::UBIGINT) AS hkey
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens, cum_before FROM o
         |WHERE cum_before < 16000 ORDER BY doc_id""".stripMargin,

    // q87's oracle partitioned by source, with the per-key budget joined
    // from a VALUES whitelist (unlisted sources never enter).
    "q88_token_budget_by_source" ->
      s"""WITH spec(source, budget) AS (VALUES
         |  ('src1', 800), ('src2', 500), ('src3', 2000), ('src5', 0)),
         |t AS (
         |  SELECT d.source, d.doc_id, len($tokensSql)::BIGINT AS n_tokens,
         |    s.budget,
         |    xor(('0x' || substr(md5('11:' || d.doc_id::VARCHAR), 1, 16))::UBIGINT,
         |        9223372036854775808::UBIGINT) AS hkey
         |  FROM documents d JOIN spec s USING (source)),
         |o AS (
         |  SELECT source, doc_id, n_tokens, budget,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM t)
         |SELECT source, doc_id, n_tokens, cum_before FROM o
         |WHERE cum_before < budget ORDER BY source, doc_id""".stripMargin,

    // Same totals, same exact-isqrt correction, same largest-remainder
    // arithmetic — every intermediate integer, so equality is bit-level.
    "q182_temperature_budgets" ->
      s"""WITH tot AS (
         |  SELECT source, sum(len($tokensSql))::BIGINT AS n
         |  FROM documents GROUP BY 1),
         |w0 AS (SELECT source, n,
         |  least(CAST(floor(sqrt(n::DOUBLE)) AS BIGINT), 3037000499) AS s0 FROM tot),
         |wt AS (SELECT source, n,
         |  CASE WHEN s0 < 3037000499 AND (s0+1)*(s0+1) <= n THEN s0+1
         |       WHEN s0*s0 > n THEN s0-1 ELSE s0 END AS w FROM w0),
         |s AS (SELECT sum(w)::BIGINT AS tw FROM wt),
         |p AS (SELECT source, n, w,
         |  (20000 // tw) * w + ((20000 % tw) * w) // tw AS base,
         |  ((20000 % tw) * w) % tw AS r
         |  FROM wt, s),
         |l AS (SELECT (20000 - sum(base))::BIGINT AS leftover FROM p)
         |SELECT source, n, w,
         |  (base + CASE WHEN row_number() OVER (ORDER BY r DESC, source)
         |     <= leftover THEN 1 ELSE 0 END)::BIGINT AS budget
         |FROM p, l ORDER BY source""".stripMargin,

    // q182's spec chained into q88's admit rule (same md5 permutation
    // key, signed re-bias, per-source running sum).
    "q183_temperature_mix" ->
      s"""WITH tot AS (
         |  SELECT source, sum(len($tokensSql))::BIGINT AS n
         |  FROM documents GROUP BY 1),
         |w0 AS (SELECT source, n,
         |  least(CAST(floor(sqrt(n::DOUBLE)) AS BIGINT), 3037000499) AS s0 FROM tot),
         |wt AS (SELECT source, n,
         |  CASE WHEN s0 < 3037000499 AND (s0+1)*(s0+1) <= n THEN s0+1
         |       WHEN s0*s0 > n THEN s0-1 ELSE s0 END AS w FROM w0),
         |s AS (SELECT sum(w)::BIGINT AS tw FROM wt),
         |p AS (SELECT source, n, w,
         |  (20000 // tw) * w + ((20000 % tw) * w) // tw AS base,
         |  ((20000 % tw) * w) % tw AS r
         |  FROM wt, s),
         |l AS (SELECT (20000 - sum(base))::BIGINT AS leftover FROM p),
         |spec AS (
         |  SELECT source, (base + CASE WHEN row_number()
         |    OVER (ORDER BY r DESC, source) <= leftover THEN 1 ELSE 0
         |    END)::BIGINT AS budget FROM p, l),
         |t AS (
         |  SELECT d.source, d.doc_id, len($tokensSql)::BIGINT AS n_tokens,
         |    sp.budget,
         |    xor(('0x' || substr(md5('13:' || d.doc_id::VARCHAR), 1, 16))::UBIGINT,
         |        9223372036854775808::UBIGINT) AS hkey
         |  FROM documents d JOIN spec sp USING (source)),
         |o AS (
         |  SELECT source, doc_id, n_tokens, budget,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY hkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM t)
         |SELECT source, doc_id, n_tokens, cum_before FROM o
         |WHERE cum_before < budget ORDER BY source, doc_id""".stripMargin,

    // The greedy fold re-walked row-by-row: a recursive CTE carries
    // (pack_id, fill) down each source's (md5 hex, doc_id) order with the
    // same open-new-bin rule, then the audit aggregates bins exactly.
    "q185_pack_nosplit_audit" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT source, doc_id, len($tokensSql)::BIGINT AS w,
         |    md5(doc_id::VARCHAR) AS rk
         |  FROM documents),
         |seq AS (
         |  SELECT source, doc_id, w,
         |    row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS i
         |  FROM t),
         |fold AS (
         |  SELECT source, i, doc_id, w, 0::BIGINT AS pack_id, w::BIGINT AS fill
         |  FROM seq WHERE i = 1
         |  UNION ALL
         |  SELECT s.source, s.i, s.doc_id, s.w,
         |    CASE WHEN f.fill > 0 AND f.fill + s.w > 2048
         |         THEN f.pack_id + 1 ELSE f.pack_id END,
         |    CASE WHEN f.fill > 0 AND f.fill + s.w > 2048
         |         THEN s.w ELSE f.fill + s.w END
         |  FROM fold f JOIN seq s ON s.source = f.source AND s.i = f.i + 1),
         |bins AS (
         |  SELECT source, pack_id, sum(w)::BIGINT AS fill, count(*)::BIGINT AS nd
         |  FROM fold GROUP BY 1, 2)
         |SELECT source, count(*)::BIGINT AS n_bins, sum(nd)::BIGINT AS n_docs,
         |  sum(fill)::BIGINT AS total_tokens,
         |  sum(greatest(2048 - fill, 0))::BIGINT AS padded_tokens,
         |  (sum(fill) * 1000000 // (count(*) * 2048))::BIGINT AS utilization_e6
         |FROM bins GROUP BY source ORDER BY source""".stripMargin,

    // The fixed-merge piece counts (q186's chain, counts only) driven
    // through q185's recursive greedy fold — tokenize and pack re-derived
    // end to end.
    "q187_tokenize_pack" ->
      s"""WITH RECURSIVE $fixedBpeApplyChainSql,
         |toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |tw AS (
         |  SELECT doc_id, i.i AS i, ts[i.i::INT] AS word
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) i),
         |wp AS (SELECT word, len(syms)::BIGINT AS np
         |       FROM fper${FixedBpeMerges.size}),
         |pc AS (
         |  SELECT d.source, d.doc_id, coalesce(agg.w, 0)::BIGINT AS w
         |  FROM documents d LEFT JOIN (
         |    SELECT tw.doc_id, sum(wp.np) AS w
         |    FROM tw JOIN wp USING (word) GROUP BY tw.doc_id) agg
         |  USING (doc_id)),
         |t AS (
         |  SELECT source, doc_id, w, md5(doc_id::VARCHAR) AS rk FROM pc),
         |seq AS (
         |  SELECT source, doc_id, w,
         |    row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS i
         |  FROM t),
         |fold AS (
         |  SELECT source, i, doc_id, w, 0::BIGINT AS pack_id, w::BIGINT AS fill
         |  FROM seq WHERE i = 1
         |  UNION ALL
         |  SELECT s.source, s.i, s.doc_id, s.w,
         |    CASE WHEN f.fill > 0 AND f.fill + s.w > 2048
         |         THEN f.pack_id + 1 ELSE f.pack_id END,
         |    CASE WHEN f.fill > 0 AND f.fill + s.w > 2048
         |         THEN s.w ELSE f.fill + s.w END
         |  FROM fold f JOIN seq s ON s.source = f.source AND s.i = f.i + 1),
         |bins AS (
         |  SELECT source, pack_id, sum(w)::BIGINT AS fill, count(*)::BIGINT AS nd
         |  FROM fold GROUP BY 1, 2)
         |SELECT source, count(*)::BIGINT AS n_bins, sum(nd)::BIGINT AS n_docs,
         |  sum(fill)::BIGINT AS total_tokens,
         |  sum(greatest(2048 - fill, 0))::BIGINT AS padded_tokens,
         |  (sum(fill) * 1000000 // (count(*) * 2048))::BIGINT AS utilization_e6
         |FROM bins GROUP BY source ORDER BY source""".stripMargin,

    // Same tokens, same md5-64 low-bit bucket (2048 is a power of two, so
    // signed Spark longs and DuckDB's UBIGINT agree on the mask), exact
    // integer sums — the classifier score matches bit-for-bit.
    "q85_quality_filter" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |scored AS (
         |  SELECT doc_id, len(ts)::INT AS n_tokens,
         |    coalesce(list_sum(list_transform(ts,
         |      t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |             & 2047::UBIGINT)::BIGINT - 1024))), 0)::BIGINT AS score_num
         |  FROM toks)
         |SELECT doc_id, n_tokens, score_num, score_num >= 0 AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,
    // Same md5-bit model score (q85), same ntile binning; the sample
    // membership rule is md5-64 top-63-bits < floor(2^63/5) — the q30
    // auditable-off-Spark convention.
    "q114_quality_strata" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS ts FROM documents),
         |scored AS (
         |  SELECT doc_id, source,
         |    coalesce(list_sum(list_transform(ts,
         |      t -> ((('0x' || substr(md5(t), 1, 16))::UBIGINT
         |             & 2047::UBIGINT)::BIGINT - 1024))), 0)::BIGINT AS score_num
         |  FROM toks),
         |d AS (
         |  SELECT doc_id, source, score_num,
         |    ntile(10) OVER (PARTITION BY source
         |      ORDER BY score_num ASC, doc_id ASC) AS decile
         |  FROM scored)
         |SELECT source, decile::INT AS decile, count(*)::BIGINT AS n,
         |  sum(CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT >> 1)
         |        < 1844674407370955161::UBIGINT THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  min(score_num)::BIGINT AS min_score,
         |  max(score_num)::BIGINT AS max_score
         |FROM d GROUP BY 1, 2 ORDER BY source, decile""".stripMargin,

    "q56_rolling_fingerprint" -> rollingFingerprintOracleSql,

    // Same pretokenizer pattern, same 2-char windows, same total order.
    "q65_bpe_merge_candidates" -> {
      val pat = graft.text.TextAnalysis.BpePretokenPattern.replace("'", "''")
      s"""WITH pieces AS (
         |  SELECT unnest(regexp_extract_all(text, '$pat')) AS p FROM documents
         |),
         |pairs AS (
         |  SELECT substr(p, i.i::INT, 2) AS pair
         |  FROM pieces, LATERAL (SELECT unnest(range(1, length(p))) AS i) i
         |  WHERE length(p) >= 2
         |)
         |SELECT pair, count(*)::BIGINT AS cnt FROM pairs
         |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""".stripMargin
    },

    // Four full BPE rounds re-derived relationally — see bpeRoundSql for
    // the greedy re-segmentation formulation.
    "q91_bpe_learn" ->
      s"""WITH $bpeChain4Sql
         |SELECT * FROM (
         |  SELECT 1::INT AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM bpm1
         |  UNION ALL SELECT 2, a, b, cnt FROM bpm2
         |  UNION ALL SELECT 3, a, b, cnt FROM bpm3
         |  UNION ALL SELECT 4, a, b, cnt FROM bpm4) u
         |ORDER BY round""".stripMargin,
    // ENCODE with the same four learned merges: bper4 IS the corpus
    // segmented under them, so the piece histogram falls out of one
    // unnest — a wrong merge OR a wrong greedy application anywhere in
    // rounds 1-4 shifts these counts.
    "q95_bpe_piece_histogram" ->
      s"""WITH $bpeChain4Sql
         |SELECT piece, sum(w)::BIGINT AS n
         |FROM (SELECT w, unnest(syms) AS piece FROM bper4)
         |GROUP BY piece ORDER BY n DESC, piece LIMIT 20""".stripMargin,

    // Same four-round segmentation; per-(lang, word) counts joined to the
    // vocabulary's piece counts, e6 integer-division ratio.
    "q120_bpe_fertility" ->
      s"""WITH $bpeChain4Sql,
         |lw AS (
         |  SELECT lang, word, count(*)::BIGINT AS w
         |  FROM (SELECT lang, unnest($tokensSql) AS word FROM documents) t
         |  GROUP BY 1, 2),
         |wp AS (SELECT word, len(syms)::BIGINT AS n_pieces FROM bper4)
         |SELECT lang,
         |  sum(lw.w)::BIGINT AS n_words,
         |  sum(lw.w * wp.n_pieces)::BIGINT AS n_pieces_total,
         |  (sum(lw.w * wp.n_pieces)::BIGINT * 1000000
         |     // sum(lw.w)::BIGINT)::BIGINT AS fertility_e6
         |FROM lw JOIN wp USING (word)
         |GROUP BY 1 ORDER BY lang""".stripMargin,

    // The same fixed merge table applied relationally, merge by merge
    // (greedy-runs formulation over the DISTINCT corpus words), then each
    // doc's pieces reassembled from its ordered word list.
    "q186_bpe_encode" ->
      s"""WITH $fixedBpeApplyChainSql,
         |toks AS (SELECT doc_id, $tokensSql AS ts FROM documents),
         |tw AS (
         |  SELECT doc_id, i.i AS i, ts[i.i::INT] AS word
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) i),
         |wp AS (SELECT word, len(syms)::BIGINT AS np,
         |         array_to_string(syms, '|') AS ps
         |       FROM fper${FixedBpeMerges.size}),
         |agg AS (
         |  SELECT tw.doc_id, sum(wp.np) AS n_pieces,
         |    string_agg(wp.ps, '|' ORDER BY tw.i) AS pieces_str
         |  FROM tw JOIN wp USING (word) GROUP BY tw.doc_id)
         |SELECT d.doc_id, coalesce(agg.n_pieces, 0)::INT AS n_pieces,
         |  coalesce(agg.pieces_str, '') AS pieces_str
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Identical pattern, identical leftmost-first alternation in RE2.
    "q58_bpe_pretokens" -> {
      val pat = graft.text.TextAnalysis.BpePretokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$pat'))::INT AS n_bpe_pieces,
         |  coalesce(list_sum(list_transform(regexp_extract_all(text, '$pat'),
         |    p -> length(p))), 0)::INT AS n_bpe_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    }
  )

  /** Folds the Rabin–Karp recurrence h = (h·257 + byte) mod 2^64 over the
   * UTF-8 bytes of a hex dump (`hx`, byte count `nb`) in HUGEINT — DuckDB
   * integer ops raise on overflow rather than wrap, so the wrap is an
   * explicit mod. Returns the unsigned HUGEINT value. */
  private def rollingReduceSql(hx: String, nb: String): String =
    s"""list_reduce(
       |    list_prepend(0::HUGEINT, list_transform(range($nb), i ->
       |      (16 * (ord(substr($hx, (2*i+1)::INT, 1)) -
       |        CASE WHEN substr($hx, (2*i+1)::INT, 1) <= '9' THEN 48 ELSE 55 END)
       |       + (ord(substr($hx, (2*i+2)::INT, 1)) -
       |        CASE WHEN substr($hx, (2*i+2)::INT, 1) <= '9' THEN 48 ELSE 55 END))::HUGEINT)),
       |    (acc, x) -> (acc * 257 + x) % 18446744073709551616)""".stripMargin

  /** Exact oracle for q56: the same whitespace-normalization as the Spark
   * side, bytes via the hex dump (the q18/q26 trick), the same base-257
   * fold, and a final unsigned→signed 2^64 fold back to Spark's long. */
  private def rollingFingerprintOracleSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
       |         trim(regexp_replace(lower(substr(text, 1, 64)), '\\s+', ' ', 'g')) AS head
       |  FROM documents),
       |b AS (SELECT doc_id, hex(encode(norm)) AS hx, octet_length(encode(norm)) AS nb,
       |             hex(encode(head)) AS hhx, octet_length(encode(head)) AS hnb FROM n),
       |u AS (SELECT doc_id, ${rollingReduceSql("hx", "nb")} AS uf,
       |             ${rollingReduceSql("hhx", "hnb")} AS uh FROM b)
       |SELECT doc_id,
       |  CASE WHEN uf >= 9223372036854775808 THEN (uf - 18446744073709551616)::BIGINT
       |       ELSE uf::BIGINT END AS fp,
       |  CASE WHEN uh >= 9223372036854775808 THEN (uh - 18446744073709551616)::BIGINT
       |       ELSE uh::BIGINT END AS fp_head
       |FROM u ORDER BY doc_id""".stripMargin

  /** The q55 coarse-quantizer training chain (hash-seeded init + two
   * Lloyd iterations, final centroids in `c2`) as pluggable CTEs — shared
   * by the q127 PQ composition. Margins strip under the caller's outer
   * stripMargin, the kmeansIvfOracleSql pattern. */
  private lazy val kmeansCentCtes: String =
    s"""h AS (
       |  SELECT vec_id, embedding,
       |    xor(('0x' || substr(md5(vec_id::VARCHAR), 1, 16))::UBIGINT,
       |        9223372036854775808::UBIGINT) AS hkey
       |  FROM embeddings
       |),
       |c0 AS (
       |  SELECT (row_number() OVER (ORDER BY hkey, vec_id) - 1)::INT AS cid,
       |         embedding AS cvec
       |  FROM h ORDER BY hkey, vec_id LIMIT 8
       |),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)}"""

  /** One Lloyd iteration in SQL: nearest-centroid assignment (cosine desc,
   * ties to the lower cid — identical to the Spark window), then exact
   * DECIMAL(38,16) per-dimension means rounded to float, empty clusters
   * keeping their previous center. Mirrors [[Similarity.kmeansCentroids]]
   * step-for-step so the oracle composes iterations by CTE chaining. */
  private def kmeansIterSql(prev: String, i: Int): String =
    s"""a$i AS (
       |  SELECT id, vec, cid FROM (
       |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
       |    FROM embeddings e, $prev c)
       |  WHERE rn = 1
       |),
       |m$i AS (
       |  SELECT cid, d.d AS dim,
       |    (sum(CAST(vec[(d.d + 1)::INT] AS DECIMAL(38,16))) / count(*))::FLOAT AS m
       |  FROM a$i, LATERAL (SELECT unnest(range(len(vec))) AS d) d
       |  GROUP BY 1, 2
       |),
       |c$i AS (
       |  SELECT s.cid, coalesce(u.cvec, s.cvec) AS cvec
       |  FROM $prev s LEFT JOIN (
       |    SELECT cid, list(m ORDER BY dim) AS cvec FROM m$i GROUP BY cid) u USING (cid)
       |)""".stripMargin

  /**
   * Exact oracle for the k-means-centroid IVF path (q55). The k-means seam
   * is reproducible by construction — seeding picks the 8 corpus vectors
   * with the smallest SIGNED md5_hash64(id) (the unsigned DuckDB hash is
   * xor'd with 2^63, which maps unsigned order onto signed order), and the
   * decimal dimension means are exact, order-independent arithmetic — so
   * DuckDB re-derives bit-identical float centroids and therefore the
   * identical inverted file, probe lists, and final ranking.
   */
  private def kmeansIvfOracleSql: String =
    s"""WITH h AS (
       |  SELECT vec_id, embedding,
       |    xor(('0x' || substr(md5(vec_id::VARCHAR), 1, 16))::UBIGINT,
       |        9223372036854775808::UBIGINT) AS hkey
       |  FROM embeddings
       |),
       |c0 AS (
       |  SELECT (row_number() OVER (ORDER BY hkey, vec_id) - 1)::INT AS cid,
       |         embedding AS cvec
       |  FROM h ORDER BY hkey, vec_id LIMIT 8
       |),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |assign AS (
       |  SELECT id, vec, cid FROM (
       |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
       |    FROM embeddings e, c2 c)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT query_id, q_vec, cid FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding, c.cvec) DESC, c.cid ASC) AS rn
       |    FROM embeddings q, c2 c WHERE q.vec_id < 10)
       |  WHERE rn <= 3
       |)
       |SELECT query_id, rank::INT AS rank, neighbor_id FROM (
       |  SELECT p.query_id, a.id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.q_vec, a.vec) DESC, a.id ASC) AS rank
       |  FROM probes p JOIN assign a USING (cid)
       |  WHERE a.id <> p.query_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /**
   * Exact oracle for q84: the q55 clustering verbatim (same seed CTE, same
   * two Lloyd iterations, same assignment tie-break), then the operator's
   * one-pass min-id dominance rule stated definitionally as NOT EXISTS
   * (null-safe, unlike NOT IN — the q61 lesson). Cosine boundaries are
   * engine-exact for the same reason q16/q54 are: both engines widen the
   * float components to double and fold left-to-right.
   */
  private def semanticDedupOracleSql: String =
    s"""WITH h AS (
       |  SELECT vec_id, embedding,
       |    xor(('0x' || substr(md5(vec_id::VARCHAR), 1, 16))::UBIGINT,
       |        9223372036854775808::UBIGINT) AS hkey
       |  FROM embeddings
       |),
       |c0 AS (
       |  SELECT (row_number() OVER (ORDER BY hkey, vec_id) - 1)::INT AS cid,
       |         embedding AS cvec
       |  FROM h ORDER BY hkey, vec_id LIMIT 8
       |),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |assign AS (
       |  SELECT id, vec, cid FROM (
       |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
       |    FROM embeddings e, c2 c)
       |  WHERE rn = 1
       |)
       |SELECT a.id, a.cid, NOT EXISTS (
       |    SELECT 1 FROM assign b
       |    WHERE b.cid = a.cid AND b.id < a.id
       |      AND list_cosine_similarity(a.vec, b.vec) >= 0.45) AS keep
       |FROM assign a ORDER BY a.id""".stripMargin

  /**
   * Exact oracle for the banded random-hyperplane LSH path. The hyperplane
   * weights are deterministic doubles ([[Similarity.hyperplaneWeight]])
   * baked into the Spark plan as literals; `Double.toString` produces the
   * shortest decimal that round-trips, so DuckDB parses each weight back
   * to the identical bit pattern. Both engines then widen the float
   * component to double, multiply, and fold left-to-right in IEEE doubles
   * — bit-identical projections, hence identical sign bits. Candidates are
   * pairs agreeing on any 2-bit band slice (band-hash equality in Spark is
   * slice equality: xxhash64 is injective for our purposes on 2-bit
   * values), verified with the same cosine/threshold as q16's oracle.
   */
  private def lshNearDupOracleSql: String = {
    val bits = 16; val rowsPerBand = 2; val dims = 64
    val sigBits = (0 until bits).map { b =>
      val ws = (0 until dims)
        .map(d => Similarity.hyperplaneWeight(b, d).toString)
        .mkString("[", ", ", "]")
      "CASE WHEN list_reduce(list_transform(range(1, " + (dims + 1) + "), " +
        s"d -> embedding[d::INT]::DOUBLE * ($ws::DOUBLE[])[d::INT]), " +
        "(a, x) -> a + x) >= 0 THEN 1 ELSE 0 END"
    }.mkString("[\n    ", ",\n    ", "]")
    val bandMatch = (0 until bits / rowsPerBand).map { band =>
      val lo = band * rowsPerBand + 1
      val hi = lo + rowsPerBand - 1
      s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
    }.mkString(" OR ")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding, $sigBits AS sig FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ($bandMatch)
       |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }
}
