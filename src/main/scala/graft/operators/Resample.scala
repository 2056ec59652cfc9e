package graft.operators

import graft.operators.Sampling.md5Hash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact resampling-based significance tests — the "is this shift real
 * or noise?" layer a curation pipeline needs on top of its drift
 * statistics (chi-square [[Balance.chiSquareIndependence]], KS, TV
 * [[Balance.mixShift]]). Classical p-values for those need continuous
 * CDFs (floats, engine-divergent); a RANDOMIZATION test needs only
 * counting: re-split the corpus B times with a deterministic hash coin,
 * recompute the statistic per pseudo-split, and report how many splits
 * produce a shift at least as large as the observed one. Every number
 * shipped is an integer or an exact integer rational, and because the
 * coin is md5 over (seed, replicate, key) — the [[Sampling]] membership
 * recipe — any engine re-derives the identical B splits bit-for-bit.
 *
 * p-values use the add-one convention p = (1 + #exceed)/(1 + B)
 * (Phipson & Smyth 2010: never zero, valid under the randomization
 * null).
 *
 * The same machinery powers the ESTIMATION side: Poisson-bootstrap
 * confidence intervals ([[bootstrapMeanCI]], per-group
 * [[groupedBootstrapMeanCI]], cluster-resampled
 * [[clusterBootstrapMeanCI]], and the paired two-release difference
 * [[bootstrapMeanDiffCI]]) — hash-derived integer replicate weights
 * against pinned thresholds, CI bounds as order statistics shipped as
 * exact integer pairs.
 *
 * Scale contract: the corpus is scanned ONCE per test family; the
 * B-fold (or B·|groups|-fold) expansion happens per input row inside
 * the pre-aggregation pipeline (a generator directly under a partial
 * hash aggregate), so the exchange carries B (or B·|groups|) summary
 * rows per task, never expanded data. Compute cost is B md5 evaluations
 * per row — callers size B like an audit window (64-256), not like a
 * Monte Carlo run; the cost model is the same one the freq/theta sketch
 * families document.
 */
object Resample {

  private val dec = "decimal(38,0)"

  /** The hash coin's group-A indicator for pseudo-replicate `b` of row
   * `key`: the low bit of md5_hash64(seed:b:key) — uniform, independent
   * across b, identical on any engine (`('0x' || substr(md5(x), 1,
   * 16))::UBIGINT & 1` re-derives it in DuckDB). */
  private def coinBit(seed: String, b: Column, key: Column): Column =
    md5Hash64(concat(lit(seed), lit(":"), b.cast("string"), lit(":"),
      key.cast("string"))).bitwiseAND(lit(1L))

  /**
   * Two-sample randomization test for a mean shift in an integer value:
   * is mean(value | inA) − mean(value | !inA) larger than chance would
   * produce under random re-splits of the same corpus?
   *
   * The statistic is |mean_A − mean_B| as the exact cross-multiplied
   * rational: with group-A count/sum (a, sa) against total (n, s),
   * num = |sa·n − s·a| and den = a·(n−a). A pseudo-replicate exceeds
   * the observed statistic iff num_b·den_obs ≥ num_obs·den_b (38-digit
   * decimals; exact while sum·n < 10^19 and the cross products stay
   * under 10^38 — an audit-window bound, stated like the collocation
   * family's). Degenerate replicates that land everything in one group
   * (den_b = 0, probability 2^{1-n}) count as exceeding — the
   * conservative direction.
   *
   * The pseudo-splits are FAIR COINS (p = 1/2), so the test answers
   * "is the observed labeling more separated than a random balanced
   * relabeling?" — the binomial randomization test. Rows with a null
   * key, value, or label are excluded before anything is counted.
   *
   * Scale contract: one pass over the corpus; the B-fold expansion is
   * a generator directly under the partial aggregate, so B summary rows
   * per task cross the exchange and the final fold runs over B rows.
   *
   * @return one row: (n, n_in, sum_total, sum_in, stat_num, stat_den,
   *         n_perms, n_exceed, p_num, p_den)
   */
  def randomizationTest(df: DataFrame, key: Column, value: Column,
      inA: Column, perms: Int, seed: String): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    // The B-fold md5 expansion below is the family's compute term; a
    // split-starved scan (one small parquet file) would run it on one
    // core. fanOutSmallScan spreads the SLIM (k, v, a) projection — a
    // no-op when the scan is already parallel, so scale-neutral.
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        value.cast("long").as("v"), inA.cast("boolean").as("a"))
      .filter(col("k").isNotNull && col("v").isNotNull && col("a").isNotNull))
    val obs = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("v")), lit(0L)).as("s"),
      coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L)).as("na"),
      coalesce(sum(when(col("a"), col("v")).otherwise(0L)), lit(0L)).as("sa"))
    val perPerm = base
      .select(col("k"), col("v"),
        explode(sequence(lit(1), lit(perms))).as("b"))
      .select(col("v"), col("b"),
        coinBit(seed, col("b"), col("k")).as("bit"))
      .groupBy(col("b"))
      .agg(sum(col("bit")).as("pa"),
        coalesce(sum(when(col("bit") === 1L, col("v")).otherwise(0L)),
          lit(0L)).as("psa"))
    val withObs = perPerm.crossJoin(broadcast(obs))
      .select(col("b"),
        expr(s"abs(cast(psa as $dec) * cast(n as $dec) - " +
          s"cast(s as $dec) * cast(pa as $dec))").as("pnum"),
        expr(s"cast(pa as $dec) * (cast(n as $dec) - cast(pa as $dec))")
          .as("pden"),
        expr(s"abs(cast(sa as $dec) * cast(n as $dec) - " +
          s"cast(s as $dec) * cast(na as $dec))").as("onum"),
        expr(s"cast(na as $dec) * (cast(n as $dec) - cast(na as $dec))")
          .as("oden"))
    val exceed = withObs
      .agg(coalesce(sum(when(col("pden") === 0 ||
          expr("pnum * oden >= onum * pden"), 1L).otherwise(0L)), lit(0L))
        .as("n_exceed"))
    broadcast(obs).crossJoin(broadcast(exceed))
      .select(col("n"), col("na").as("n_in"), col("s").as("sum_total"),
        col("sa").as("sum_in"),
        // Shipped as STRING (see the output-type contract in
        // FIXTURES.md): the cross products s·na ~ Σv·n exceed int64 on
        // a 100-TB corpus, and wide decimal/HUGEINT columns diverge in
        // representation across engine boundaries. Arithmetic stays
        // exact decimal(38,0) internally.
        expr(s"abs(cast(sa as $dec) * cast(n as $dec) - " +
          s"cast(s as $dec) * cast(na as $dec))").cast("string")
          .as("stat_num"),
        expr(s"cast(na as $dec) * (cast(n as $dec) - cast(na as $dec))")
          .cast("string").as("stat_den"),
        lit(perms.toLong).as("n_perms"), col("n_exceed"),
        (col("n_exceed") + 1L).as("p_num"),
        lit(perms.toLong + 1L).as("p_den"))
  }

  /**
   * Two-sample randomization KS test — "did the DISTRIBUTION move, not
   * just the mean?": [[randomizationTest]] prices a mean shift and is
   * blind to variance/shape changes that leave the mean alone (a
   * corpus splitting into very-short and very-long documents, say);
   * the KS statistic sup|ECDF_A − ECDF_B| sees them. Classical KS
   * p-values need the asymptotic Kolmogorov CDF (floats, and wrong at
   * small n with ties); the randomization null needs only counting —
   * and over INTEGER values with ties, the randomization test is the
   * exact one.
   *
   * The statistic is the exact rational
   *   max_v |cumA(v)·n_B − cumB(v)·n_A| / (n_A·n_B)
   * over the distinct values v of the pooled sample. A pseudo-replicate
   * (fair-coin re-split, one md5 per (row, b) — the [[Sampling]]
   * recipe) exceeds iff num_b·den_obs ≥ num_obs·den_b in decimal(38,0)
   * (exact while n⁴ < 10³⁸, i.e. n ≲ 3·10⁹ rows per test scope — the
   * audit-window bound, stated like randomizationTest's, and ENFORCED:
   * a scope past 3·10⁹ rows raises at execution rather than letting
   * non-ANSI decimal overflow null out replicates and silently shrink
   * the p-value). Degenerate
   * replicates with an empty side count as exceeding (conservative).
   * Same add-one p (Phipson & Smyth 2010).
   *
   * Scale contract: ONE corpus pass — the observed labeling rides the
   * expansion as replicate 0 (its bit is the true label, no md5), so
   * the value kernel evaluates once per row; row volume dies in the
   * per-(replicate, value) cell aggregation, the exchange carries
   * (B+1)·|distinct values| summary cells, and the cumulative windows
   * run over those cells partitioned by replicate (the q207
   * histogram-window convention).
   * stat_num/stat_den ship as STRINGs (FIXTURES.md §4: the cross
   * products are count×count, past int64 at corpus scale).
   *
   * @return one row: (n, n_in, stat_num, stat_den, n_perms, n_exceed,
   *         p_num, p_den)
   */
  def ksRandomizationTest(df: DataFrame, key: Column, value: Column,
      inA: Column, perms: Int, seed: String): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        value.cast("long").as("v"), inA.cast("boolean").as("a"))
      .filter(col("k").isNotNull && col("v").isNotNull && col("a").isNotNull))
    // ONE corpus scan: the OBSERVED labeling rides the same expansion
    // as "replicate 0" (bit = the true label instead of the coin), so
    // base's projection — whose value kernel (e.g. a tokenizer) is the
    // scan's dominant cost — evaluates exactly once per row, and the
    // observed statistic falls out of the identical window/fold the
    // replicates use. Row volume dies in the (b, v) cell aggregation:
    // (B+1)·|distinct values| summary cells cross the exchange.
    val cells = base
      .select(col("k"), col("v"), col("a"),
        explode(sequence(lit(0), lit(perms))).as("b"))
      .select(col("v"), col("b"),
        when(col("b") === 0, when(col("a"), 1L).otherwise(0L))
          .otherwise(coinBit(seed, col("b"), col("k"))).as("bit"))
      .groupBy(col("b"), col("v"))
      .agg(count(lit(1)).as("cnt"), coalesce(sum(col("bit")), lit(0L)).as("ca"))
    val wb = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wbAll = Window.partitionBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perRep = cells
      .select(col("b"),
        sum(col("cnt")).over(wb).as("cum"),
        sum(col("ca")).over(wb).as("cuma"),
        sum(col("ca")).over(wbAll).as("nab"),
        sum(col("cnt")).over(wbAll).as("ntot"))
      .groupBy(col("b"), col("nab"), col("ntot"))
      .agg(max(expr(s"abs(cast(cuma as $dec) * (cast(ntot as $dec)" +
        s" - cast(nab as $dec)) - (cast(cum as $dec) - cast(cuma as $dec))" +
        s" * cast(nab as $dec))")).as("pnum"))
      .select(col("b"),
        // Exact-domain guard (the bound documented above): the
        // exceedance compare multiplies two ~n² decimals, so past
        // n ≈ 3·10⁹ the 38-digit product overflows — and under
        // non-ANSI Spark an overflow is a silent NULL, which drops the
        // replicate from the exceedance SUM, undercounts, and ships an
        // anti-conservative (too small) p-value. Out-of-domain inputs
        // must fail loudly instead.
        when(col("ntot") <= lit(3000000000L), col("ntot"))
          .otherwise(raise_error(lit("ksRandomizationTest: test scope " +
            "exceeds the exact decimal(38,0) domain (n > 3e9 rows); " +
            "shard the test or pre-aggregate values"))).as("ntot"),
        col("nab"), col("pnum"),
        expr(s"cast(nab as $dec) * (cast(ntot as $dec) - cast(nab as $dec))")
          .as("pden"))
    // Attach replicate 0's (observed) row to every replicate via a
    // (B+1)-row window — no self-join, so the expansion executes once.
    val wAllRows = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withObs = perRep
      .withColumn("onum", max(when(col("b") === 0, col("pnum"))).over(wAllRows))
      .withColumn("oden", max(when(col("b") === 0, col("pden"))).over(wAllRows))
    // Degenerate empty corpus: no cells at all — coalesce the summary
    // to zeros with n_exceed = B (every replicate trivially reaches an
    // observed 0; p = 1, the conservative direction).
    withObs.agg(
        coalesce(max(when(col("b") === 0, col("ntot"))), lit(0L)).as("n"),
        coalesce(max(when(col("b") === 0, col("nab"))), lit(0L)).as("n_in"),
        coalesce(max(when(col("b") === 0, col("pnum"))).cast("string"),
          lit("0")).as("stat_num"),
        coalesce(max(when(col("b") === 0, col("pden"))).cast("string"),
          lit("0")).as("stat_den"),
        coalesce(sum(when(col("b") > 0 && (col("pden") === 0 ||
            expr("pnum * oden >= onum * pden")), 1L).otherwise(0L)),
          lit(0L)).as("n_exceed_raw"),
        count(lit(1)).as("n_rows"))
      .select(col("n"), col("n_in"), col("stat_num"), col("stat_den"),
        lit(perms.toLong).as("n_perms"),
        when(col("n_rows") === 0L, lit(perms.toLong))
          .otherwise(col("n_exceed_raw")).as("n_exceed"))
      .withColumn("p_num", col("n_exceed") + 1L)
      .withColumn("p_den", lit(perms.toLong + 1L))
  }

  /**
   * Exact paired SIGN test — "does system A beat system B on more
   * units than chance?" over per-unit signed comparisons (+1 A wins,
   * −1 B wins, 0 tie): the paired-comparison significance read that
   * closes the ranking-eval loop (apAtK/ndcgAtK produce per-query
   * metric rationals; this says whether the observed win rate is
   * signal). Ties are EXCLUDED, as the classical sign test requires
   * (they carry no direction). Under H0 each non-tie unit's winner is
   * a fair coin, so the randomization null flips each sign with the
   * md5 coin and counts replicates whose |#wins_A − #wins_B| reaches
   * the observed margin — the exact binomial two-sided test, priced by
   * counting instead of binomial-coefficient bignums (which outgrow
   * any fixed width past ~60 units). Same add-one p convention as
   * [[randomizationTest]] (Phipson & Smyth 2010).
   *
   * Everything shipped is a BIGINT. Scale contract: one pass over the
   * comparison rows; the B-fold expansion collapses under the partial
   * aggregate (B summary rows per task cross the exchange).
   *
   * @param sign per-unit comparison, cast to long; must be −1, 0, or 1
   *        (anything else raises at execution)
   * @return one row: (n, n_pos, n_neg, n_tie, stat, n_perms, n_exceed,
   *         p_num, p_den) — n counts non-ties, stat = |n_pos − n_neg|
   */
  def pairedSignTest(df: DataFrame, key: Column, sign: Column,
      perms: Int, seed: String): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    // NULL signs are EXCLUDED (the family's null convention) — the
    // isNull arm must come first, because isin over a null is null and
    // would otherwise fall through to raise_error before the filter
    // ever saw the row. Out-of-domain non-null signs still raise.
    val sg0 = sign.cast("long")
    val checked = when(sg0.isNull, sg0)
      .when(sg0.isin(-1L, 0L, 1L), sg0)
      .otherwise(raise_error(lit("pairedSignTest: sign must be -1, 0, or 1")))
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"), checked.as("sg"))
        .filter(col("k").isNotNull && col("sg").isNotNull))
    // ONE pass over the comparison rows (which may sit on an expensive
    // upstream DAG — q240's retrieval arms): the OBSERVED counts ride
    // the replicate expansion as replicate 0 (all rows, ties included,
    // no md5 paid); replicates b ≥ 1 carry only the non-tie rows and
    // the coin. The b = 0 row then attaches to every replicate via a
    // (B+1)-row window — no self-join, the upstream executes once.
    val perB = base
      .select(col("k"), col("sg"),
        explode(sequence(lit(0), lit(perms))).as("b"))
      .filter(col("b") === 0 || col("sg") =!= 0L)
      .select(col("b"), col("sg"),
        when(col("b") === 0, lit(0L))
          .otherwise(coinBit(seed, col("b"), col("k"))).as("bit"))
      .groupBy(col("b"))
      .agg(
        coalesce(sum(when(col("sg") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("npos"),
        coalesce(sum(when(col("sg") === -1L, 1L).otherwise(0L)), lit(0L))
          .as("nneg"),
        coalesce(sum(when(col("sg") === 0L, 1L).otherwise(0L)), lit(0L))
          .as("ntie"),
        count(lit(1)).as("pn"),
        coalesce(sum(col("bit")), lit(0L)).as("ph"))
    val wAllRows = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withObs = perB
      .withColumn("onpos", max(when(col("b") === 0, col("npos"))).over(wAllRows))
      .withColumn("onneg", max(when(col("b") === 0, col("nneg"))).over(wAllRows))
    // Replicate b's statistic is |Σ ±1| = |2·#heads − n| over the
    // non-ties; exceed on ≥ the observed |n_pos − n_neg|. Degenerate
    // all-ties/empty input has no replicate rows, but every replicate
    // trivially reaches an observed 0 — p must be 1, not the
    // anti-conservative 1/(B+1) an empty count would imply.
    withObs.agg(
        coalesce(max(when(col("b") === 0, col("npos"))), lit(0L)).as("npos"),
        coalesce(max(when(col("b") === 0, col("nneg"))), lit(0L)).as("nneg"),
        coalesce(max(when(col("b") === 0, col("ntie"))), lit(0L)).as("ntie"),
        coalesce(sum(when(col("b") > 0 &&
            abs(lit(2L) * col("ph") - col("pn")) >=
              abs(col("onpos") - col("onneg")), 1L).otherwise(0L)), lit(0L))
          .as("n_exceed_raw"))
      .withColumn("n_exceed",
        when(col("npos") + col("nneg") === 0L, lit(perms.toLong))
          .otherwise(col("n_exceed_raw")))
      .select((col("npos") + col("nneg")).as("n"),
        col("npos").as("n_pos"), col("nneg").as("n_neg"),
        col("ntie").as("n_tie"),
        abs(col("npos") - col("nneg")).as("stat"),
        lit(perms.toLong).as("n_perms"), col("n_exceed"),
        (col("n_exceed") + 1L).as("p_num"),
        lit(perms.toLong + 1L).as("p_den"))
  }

  /** Metric resolution of [[pairedDeltaTest]]'s quantization: deltas are
   * priced at 10⁻⁶ of a metric unit. Part of the test's DEFINITION (the
   * statistic is over quantized deltas), not an implementation detail. */
  private val DeltaScale = "1000000" // 10^6

  /**
   * Paired RANDOMIZATION test over per-unit metric DELTAS — the
   * magnitude-aware companion of [[pairedSignTest]] (the permutation
   * analog of the paired t-test): under H0 each unit's delta is
   * symmetric around zero, so replicates flip each delta's sign with
   * the md5 coin and count how many reach the observed |Σ dᵢ|. A system
   * that wins small on many queries but loses huge on a few is
   * "significant" to the sign test and correctly NOT significant here —
   * magnitude, not just direction, is priced.
   *
   * Deltas arrive as exact integer rationals (deltaNum signed, deltaDen
   * positive — e.g. ap_num_A − ap_num_B over the query's shared ap_den
   * from [[Retrieval.apAtK]], or dcg_num differences over the query's
   * idcg_num from ndcgAtK). Exact cross-replicate comparison of
   * rational SUMS would need an lcm over per-unit denominators
   * (unbounded); instead each delta is QUANTIZED to d̃ = sign(num) ·
   * ⌊|num|·10⁶ / den⌋ — floor of a NON-NEGATIVE rational, i.e.
   * truncating integer division, which Spark's `div` and DuckDB's `//`
   * compute identically — and the test is DEFINED over the d̃ (10⁻⁶
   * metric resolution; a delta smaller than that is priced as zero).
   * Everything downstream is exact integer arithmetic in decimal(38,0).
   *
   * Same add-one p (Phipson & Smyth 2010); degenerate all-zero-d̃ (or
   * empty) input pins p = 1 — every replicate trivially reaches an
   * observed 0. A quantized |d̃| past int64 raises loudly (the family's
   * guard convention) rather than non-ANSI-nulling into undercounted
   * exceedances. NULL key/num/den rows are excluded; den ≤ 0 raises.
   *
   * Scale contract: ONE pass over the comparison rows (the replicate
   * expansion carries observed as replicate 0, zero-d̃ rows excluded
   * from b ≥ 1 — flipping a zero does nothing); B+1 summary rows cross
   * the exchange. `stat` ships as STRING (FIXTURES.md §4: Σ d̃ is
   * n·10⁶-bounded, past int64 at extreme unit counts).
   *
   * @return one row: (n, n_zero, stat, n_perms, n_exceed, p_num, p_den)
   *         — n counts all non-null units, n_zero those with d̃ = 0,
   *         stat = |Σ d̃| over all units
   */
  def pairedDeltaTest(df: DataFrame, key: Column, deltaNum: Column,
      deltaDen: Column, perms: Int, seed: String): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    signFlipExceedance(
      quantizedDeltas(df, key, deltaNum, deltaDen, "pairedDeltaTest"),
      perms, seed)
  }

  /** Shared quantization front of the delta family ([[pairedDeltaTest]],
   * [[wilcoxonSignedRank]]): validated (k, d̃) rows with d̃ = sign(num)
   * · ⌊|num|·10⁶/den⌋ — floor of a NON-NEGATIVE rational, i.e.
   * truncating integer division, which Spark's `div` and DuckDB's `//`
   * compute identically. NULL rows drop; den ≤ 0 and quantized
   * overflow raise with the caller's name. */
  private def quantizedDeltas(df: DataFrame, key: Column, deltaNum: Column,
      deltaDen: Column, fn: String): DataFrame = {
    val den0 = deltaDen.cast("long")
    val denChecked = when(den0.isNull, den0)
      .when(den0 > 0L, den0)
      .otherwise(raise_error(lit(s"$fn: delta denominator must be positive")))
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        deltaNum.cast("long").as("dn"), denChecked.as("dd"))
      .filter(col("k").isNotNull && col("dn").isNotNull && col("dd").isNotNull))
    // The int64 range guard mirrors ciFromReplicates' (loud, both
    // engines, both directions — |num| is guarded, sign re-applied).
    val inRange = expr(s"abs(cast(dn as $dec)) * $DeltaScale < " +
      s"cast(dd as $dec) * 9223372036854775807")
    base.select(col("k"),
      (when(col("dn") < 0L, lit(-1L)).otherwise(lit(1L)) *
        when(inRange, expr(s"cast(abs(cast(dn as $dec)) * $DeltaScale div " +
            s"cast(dd as $dec) as long)"))
          .otherwise(raise_error(lit(s"$fn: quantized |delta| " +
            "exceeds BIGINT (|num|*10^6/den >= 2^63); rescale the " +
            "metric rational")))).as("d"))
  }

  /** Shared randomization tail of the delta family: ONE pass over
   * signed integer units (k, d) — observed rides as replicate 0 over
   * ALL rows (no coin), replicates b ≥ 1 carry only d ≠ 0 rows and
   * flip signs with the md5 coin (s = 1 − 2·bit); B+1 summary rows
   * cross the exchange; |Σ s·d| exceedance, add-one p, all-zero input
   * pinned to p = 1 (never the anti-conservative 1/(B+1)). */
  private def signFlipExceedance(units: DataFrame, perms: Int,
      seed: String): DataFrame = {
    val perB = units
      .select(col("k"), col("d"),
        explode(sequence(lit(0), lit(perms))).as("b"))
      .filter(col("b") === 0 || col("d") =!= 0L)
      .select(col("b"), col("d"),
        when(col("b") === 0, lit(0L))
          .otherwise(coinBit(seed, col("b"), col("k"))).as("bit"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("pn"),
        coalesce(sum(when(col("d") === 0L, 1L).otherwise(0L)), lit(0L))
          .as("nzero"),
        coalesce(sum(expr(s"cast((1 - 2 * bit) * d as $dec)")),
          expr(s"cast(0 as $dec)")).as("t"))
    val wAllRows = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withObs = perB
      .withColumn("ot", max(when(col("b") === 0, abs(col("t")))).over(wAllRows))
    withObs.agg(
        coalesce(max(when(col("b") === 0, col("pn"))), lit(0L)).as("n"),
        coalesce(max(when(col("b") === 0, col("nzero"))), lit(0L)).as("n_zero"),
        coalesce(max(when(col("b") === 0, abs(col("t")))).cast("string"),
          lit("0")).as("stat"),
        coalesce(sum(when(col("b") > 0 && abs(col("t")) >= col("ot"), 1L)
          .otherwise(0L)), lit(0L)).as("n_exceed_raw"))
      .withColumn("n_exceed",
        when(col("n") - col("n_zero") === 0L, lit(perms.toLong))
          .otherwise(col("n_exceed_raw")))
      .select(col("n"), col("n_zero"), col("stat"),
        lit(perms.toLong).as("n_perms"), col("n_exceed"),
        (col("n_exceed") + 1L).as("p_num"),
        lit(perms.toLong + 1L).as("p_den"))
  }

  /**
   * Exact Wilcoxon SIGNED-RANK randomization test — the middle member
   * of the paired-comparison triple ([[pairedSignTest]] prices
   * direction only; [[pairedDeltaTest]] prices raw magnitude and lets
   * one outlier dominate; the signed-rank statistic prices magnitude
   * through RANKS, so it detects a consistent shift while staying
   * robust to a single huge reversal — the classical recommendation
   * for paired metric comparisons).
   *
   * Deltas arrive as the same integer rationals as [[pairedDeltaTest]]
   * and share its definitional 10⁻⁶ quantization. Classical zero
   * handling: d̃ = 0 units are DISCARDED before ranking (Wilcoxon's
   * rule; they carry no direction). Ties in |d̃| take AVERAGE ranks —
   * kept exact by DOUBLING: a tie group occupying sorted positions
   * a..b gets doubled-rank 2a + (b−a+1) − 1 = a + b, an integer, so
   * the statistic W₂ = Σ sign(d̃)·r₂ is exact integer arithmetic and
   * any engine re-derives it (rank() + per-group count — no floats).
   * Under H0 signs are symmetric: replicates flip each unit's signed
   * doubled-rank with the md5 coin and count |W₂_b| ≥ |W₂_obs|.
   * Same add-one p; empty/all-zero input pins p = 1.
   *
   * One-scan shape with a twist the delta test cannot use: ranks
   * depend only on |d̃| — sign flips do not reorder them — so the
   * rank window runs ONCE over the ≤ n non-zero units (|units| rows,
   * eval-scale by the family's contract) BEFORE the replicate
   * expansion, and the expansion carries only (key, signed r₂). B+1
   * summary rows cross the final exchange; stat ships as STRING
   * (FIXTURES.md §4: W₂ is n²-bounded).
   *
   * @return one row: (n, n_zero, stat, n_perms, n_exceed, p_num,
   *         p_den) — n counts all non-null units, n_zero the
   *         discarded zeros, stat = |W₂| (doubled signed-rank sum)
   */
  def wilcoxonSignedRank(df: DataFrame, key: Column, deltaNum: Column,
      deltaDen: Column, perms: Int, seed: String): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    val quant = quantizedDeltas(df, key, deltaNum, deltaDen,
      "wilcoxonSignedRank")
    // ONE rank window over ALL units (zeros included, so the upstream
    // DAG evaluates once): with |d| ascending the z zero rows occupy
    // positions 1..z, so a non-zero tie group at overall positions a..b
    // has nonzero-only doubled average rank (a−z)+(b−z) = 2·rank +
    // cnt − 1 − 2z. Zero rows ship sr = 0 (they contribute nothing and
    // are excluded from replicates by the shared tail — the classical
    // discard); the signed rank then rides [[signFlipExceedance]] as
    // the unit value.
    val wRank = Window.orderBy(col("ad"))
    val wTie = Window.partitionBy(col("ad"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = quant
      .select(col("k"), col("d"), abs(col("d")).as("ad"))
      .withColumn("z",
        coalesce(sum(when(col("ad") === 0L, 1L).otherwise(0L)).over(wAll),
          lit(0L)))
      .withColumn("sr", when(col("d") === 0L, lit(0L))
        .otherwise(
          (when(col("d") < 0L, lit(-1L)).otherwise(lit(1L))) *
            (lit(2L) * rank().over(wRank) + count(lit(1)).over(wTie)
              - 1L - lit(2L) * col("z"))))
      .select(col("k"), col("sr").as("d"))
    signFlipExceedance(ranked, perms, seed)
  }

  /**
   * Multiple-testing-controlled drift sweep: for EVERY group g, a
   * randomization test of "does g's mean value differ from the rest of
   * the corpus?", then Benjamini–Hochberg step-up over the exact
   * p-values at FDR level fdrNum/fdrDen — the "which sources actually
   * moved?" audit run after a crawl refresh, with the false-discovery
   * rate controlled instead of m uncorrected tests silently inflating
   * hits.
   *
   * Per group the null must respect the group's SIZE (a 1% source's
   * mean wanders more than a 50% one), so replicate b's pseudo-members
   * of g are rows with md5_hash64(seed:b:key) >>> 1 below
   * floor(n_g·2⁶³/n) — the [[Sampling]] threshold rule with the
   * OBSERVED group share as the rate, computed in-plan from the
   * counting pass (no driver round-trip). Pseudo-group sizes are then
   * binomial around n_g, the standard binomial randomization null.
   *
   * The coin is SHARED across groups within a replicate (one md5 per
   * (row, b), compared against every group's threshold) rather than
   * drawn per (row, g, b): each test's marginal null is the identical
   * Bernoulli(n_g/n) membership either way, and the positive
   * correlation the nesting induces ACROSS tests is exactly the regime
   * BH stays valid in (PRDS — Benjamini & Yekutieli 2001). The sharing
   * matters at scale: md5 dominates the sweep's compute, and one hash
   * per (row, replicate) instead of per (row, group, replicate) cuts
   * it by |groups|× (measured 4.09 → sub-second solo at sf0.1 on the
   * 20-source corpus).
   *
   * Statistic and exceedance comparisons are the exact cross-multiplied
   * rationals of [[randomizationTest]]. BH runs over |groups| rows:
   * rank p-values ascending (n_exceed, then group key — same add-one
   * p denominator everywhere, so n_exceed IS the p-order), find the
   * largest rank r with p_(r)·m ≤ r·q as the integer comparison
   * (n_exceed+1)·m·fdrDen ≤ r·(perms+1)·fdrNum, and reject ranks ≤ r.
   *
   * Scale contract: one counting pass (row volume dies per group), one
   * corpus pass with the B-fold expansion under the partial aggregate,
   * and a |groups|-row BH window. The per-group counts are NOT obtained
   * by fanning each (row, replicate) out |groups| ways — that emits
   * |groups|·B rows per input row, and the row EMISSION (not the md5)
   * measured 4.7 of q226's 4.5 s solo. Instead each (row, replicate)
   * computes its hash's INTERVAL INDEX among the sorted distinct
   * thresholds (a broadcast ≤|groups|-long array scanned map-side),
   * the partial aggregate collapses to B·(|groups|+1) (replicate,
   * interval) cells, and group g's pseudo-count is the prefix sum of
   * cells below its threshold's rank — a ≤(B·(|groups|+1)·|groups|)
   * theta-join over SUMMARY rows, nothing row-proportional. B stays
   * the audit-window knob: 64-256 replicates, md5 once per
   * (row, replicate).
   *
   * @return one row per group, ordered by group: (g, n_g, sum_g,
   *         stat_num, stat_den, n_exceed, p_num, p_den, bh_rank,
   *         rejected)
   */
  def fdrDriftSweep(df: DataFrame, key: Column, value: Column,
      group: Column, perms: Int, seed: String,
      fdrNum: Long, fdrDen: Long): DataFrame = {
    require(perms > 0, s"perms must be positive, got $perms")
    require(fdrNum > 0 && fdrDen > 0 && fdrNum <= fdrDen,
      s"bad FDR level $fdrNum/$fdrDen")
    // Slim fan-out before the B·|groups| expansion (see randomizationTest).
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        value.cast("long").as("v"), group.cast("string").as("g"))
      .filter(col("k").isNotNull && col("v").isNotNull && col("g").isNotNull))
    val tot = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("v")), lit(0L)).as("s"))
    val perGroup = base.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg"))
    // 2^63 as a 38-digit decimal literal: the Sampling threshold rule
    // floor(ng * 2^63 / n), computed in-plan (ng * 2^63 ~ 10^28 << 10^38).
    val twoPow63 = "9223372036854775808"
    val groupsWithThreshold = perGroup.crossJoin(broadcast(tot))
      .select(col("g"), col("ng"), col("sg"), col("n"), col("s"),
        expr(s"cast(ng as $dec) * cast($twoPow63 as $dec) div cast(n as $dec)")
          .as("thr"))
    // Membership h < thr as h ≤ thr−1 keeps everything in LONGs (thr ≤
    // 2⁶³ overflows a signed long only at ng = n, where thr−1 = Long.Max
    // and membership is correctly always-true; thr ≥ 1 since ng ≥ 1).
    val thrM1 = groupsWithThreshold
      .select(col("g"), expr(s"cast(thr - 1 as long)").as("tm1"))
    // Sorted distinct thresholds with 1-based rank; membership in g
    // (h ≤ tm1_g) ⟺ idx(h) < rank(g) where idx(h) = #{distinct tm1 < h}.
    val distinctThr = thrM1.select(col("tm1")).distinct()
      .withColumn("tr", row_number().over(Window.orderBy(col("tm1")))
        .cast("long"))
    val thrArr = distinctThr
      .agg(sort_array(collect_list(col("tm1"))).as("arr"))
    // ONE md5 per (row, replicate); idx is a map-side scan of the
    // broadcast threshold array (scalar-side cross join — one row).
    val cells = base
      .select(col("k"), col("v"),
        explode(sequence(lit(1), lit(perms))).as("b"))
      .select(col("v"), col("b"),
        shiftrightunsigned(md5Hash64(concat(lit(seed), lit(":"),
          col("b").cast("string"), lit(":"), col("k"))), 1).as("h"))
      .crossJoin(broadcast(thrArr))
      .select(col("v"), col("b"),
        size(filter(col("arr"), t => t < col("h"))).cast("long").as("idx"))
      .groupBy(col("b"), col("idx"))
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(col("v")), lit(0L)).as("sv"))
    // Group g's pseudo-count in replicate b = Σ cells with idx < rank(g).
    // Summary-row theta join: B·(|groups|+1) cells × |groups| ranks. The
    // grid LEFT join restores (g, b) pairs whose pseudo-group is empty
    // (pa = 0 must exist — it counts as a degenerate exceedance).
    val groupRank = thrM1.join(broadcast(distinctThr), Seq("tm1"))
      .select(col("g").as("tg"), col("tr"))
    val grid = groupRank.select(col("tg"), col("tr"),
      explode(sequence(lit(1), lit(perms))).as("b"))
    val perGB = grid
      .join(broadcast(cells), col("idx") < col("tr") &&
        cells("b") === grid("b"), "left")
      .groupBy(col("tg"), grid("b"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("pa"),
        coalesce(sum(col("sv")), lit(0L)).as("psa"))
    perGB
      .join(groupsWithThreshold.withColumnRenamed("g", "tg"), Seq("tg"))
      .select(col("tg"), col("ng"), col("sg"), col("n"), col("s"),
        expr(s"abs(cast(psa as $dec) * cast(n as $dec) - " +
          s"cast(s as $dec) * cast(pa as $dec))").as("pnum"),
        expr(s"cast(pa as $dec) * (cast(n as $dec) - cast(pa as $dec))")
          .as("pden"),
        expr(s"abs(cast(sg as $dec) * cast(n as $dec) - " +
          s"cast(s as $dec) * cast(ng as $dec))").as("onum"),
        expr(s"cast(ng as $dec) * (cast(n as $dec) - cast(ng as $dec))")
          .as("oden"))
      .groupBy(col("tg"))
      .agg(max(col("ng")).as("n_g"), max(col("sg")).as("sum_g"),
        max(col("onum")).as("stat_num"), max(col("oden")).as("stat_den"),
        coalesce(sum(when(col("pden") === 0 ||
          expr("pnum * oden >= onum * pden"), 1L).otherwise(0L)), lit(0L))
          .as("n_exceed"))
      .transform(bhStepUp(perms, fdrNum, fdrDen))
  }

  /**
   * Poisson(1) bootstrap weight for resampling unit `key` in replicate
   * `b`: the inverse-CDF bucket of the uniform hash u =
   * md5_hash64(seed:b:key) >>> 1 ∈ [0, 2⁶³) against the PINNED
   * thresholds T_k = floor(CDF_Poisson(1)(k)·2⁶³) — w = #{k : u ≥ T_k}
   * ∈ 0..9 (the w=9 bucket absorbs the ~1.1e-6 tail mass; documented
   * cap, conservative in no direction that matters for a CI rank). The
   * Poisson bootstrap (Hanley & MacGibbon 2006; the standard
   * one-pass/streaming bootstrap) replaces multinomial resampling with
   * independent per-unit Poisson(1) counts — exactly what a
   * single-scan distributed engine can do — and because the thresholds
   * are integer constants and the hash is the [[Sampling]] md5 recipe,
   * ANY engine re-derives the identical replicate weights bit-for-bit
   * (DuckDB: `('0x' || substr(md5(x), 1, 16))::UBIGINT >> 1` against
   * the same literals). */
  private val poissonThresholds: Seq[Long] = Seq(
    3393088950634442637L, 6786177901268885274L, 8482722376586106593L,
    9048237201691847032L, 9189615907968282142L, 9217891649223569164L,
    9222604272766117001L, 9223277504700766692L, 9223361658692597904L)

  private def poissonWeight(seed: String, b: Column, key: Column): Column = {
    val u = shiftrightunsigned(md5Hash64(concat(lit(seed), lit(":"),
      b.cast("string"), lit(":"), key.cast("string"))), 1)
    poissonThresholds.map(t => when(u >= lit(t), 1L).otherwise(0L))
      .reduce(_ + _)
  }

  /** The SQL-text twins of [[poissonWeight]] for DuckDB oracles (kept
   * next to the thresholds so the two cannot drift). The hash and the
   * threshold fold are SEPARATE fragments: inlining the md5 into each
   * of the 9 comparisons hands DuckDB 9 hash evaluations per term (no
   * CSE across CASE arms — measured as a multi-minute sf1 oracle), so
   * oracles hoist [[poissonHashSql]] into a CTE column and fold
   * [[poissonWeightFromHashSql]] over it. `key` must already be
   * VARCHAR. */
  def poissonHashSql(seed: String, b: String, key: String): String =
    s"(('0x' || substr(md5('$seed:' || ($b)::VARCHAR || ':' || " +
      s"($key)), 1, 16))::UBIGINT >> 1)"

  def poissonWeightFromHashSql(u: String): String =
    poissonThresholds.map(t => s"(($u) >= $t::UBIGINT)::BIGINT")
      .mkString("(", " + ", ")")

  /**
   * Percentile-bootstrap confidence interval for a mean, exact and
   * engine-reproducible: B Poisson(1) pseudo-replicates of the corpus
   * (one scan — the B-fold expansion collapses under the partial
   * aggregate, B summary rows per task cross the exchange), each
   * replicate's mean kept as the exact integer pair (Σw·v, Σw), and
   * the CI read off the ORDER STATISTICS of the B replicate means.
   * Replicates order by the exact scaled quotient
   * (Σw·v·10¹⁵) div Σw (integer division — deterministic on any
   * engine; an empty replicate, probability ~e⁻ⁿ, sorts first as −1),
   * ties broken by replicate index. With tailDen = 40 and B a multiple
   * of it, lo = B/40 and hi = B−lo+1 give the 2.5%/97.5% percentile
   * bootstrap bounds of a 95% CI.
   *
   * Everything shipped is an integer: the observed (n, Σv), the lo/hi
   * replicate's exact (num, den) pairs, and their scaled quotients.
   * Overflow bound: Σw·v ≤ 9·Σv, so the 10¹⁵ scaling stays exact in
   * decimal(38,0) while Σv < 10²² — far past a 100-TB corpus's token
   * total.
   *
   * @return one row: (n, sum_total, mean_scaled, n_reps, lo_rank,
   *         hi_rank, lo_num, lo_den, lo_scaled, hi_num, hi_den,
   *         hi_scaled)
   */
  def bootstrapMeanCI(df: DataFrame, key: Column, value: Column,
      reps: Int, seed: String, tailDen: Int): DataFrame = {
    require(reps > 0 && tailDen > 1 && reps % tailDen == 0,
      s"reps ($reps) must be a positive multiple of tailDen ($tailDen)")
    // Slim fan-out before the B-fold expansion (see randomizationTest).
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        value.cast("long").as("v"))
      .filter(col("k").isNotNull && col("v").isNotNull))
    val obs = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("v")), lit(0L)).as("s"))
    val perRep = base
      .select(col("k"), col("v"), explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("v"), col("b"),
        poissonWeight(seed, col("b"), col("k")).as("w"))
      .groupBy(col("b"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("nb"),
        coalesce(sum(col("w") * col("v")), lit(0L)).as("sb"))
    ciFromReplicates(perRep, obs, reps, tailDen)
      .select(col("n"), col("sum_total"), col("mean_scaled"),
        col("n_reps"), col("lo_rank"), col("hi_rank"),
        col("lo_num"), col("lo_den"), col("lo_scaled"),
        col("hi_num"), col("hi_den"), col("hi_scaled"))
  }

  /**
   * [[bootstrapMeanCI]] with the RESAMPLING UNIT lifted from rows to
   * CLUSTERS — the cluster bootstrap (Field & Welsh 2007) over a
   * near-dup component map: on a duplicated corpus, rows inside a
   * component are not independent draws, and a row-level bootstrap
   * understates the variance of every corpus statistic by pretending
   * they are. Each document joins its component (docs in no component
   * are their own singleton cluster — left join, coalesce to the key),
   * components collapse to exact (count, sum) pairs ONCE (row volume
   * dies here), and the B-fold expansion runs over |clusters| summary
   * rows only — the replicate machinery, ordering, and output schema
   * are [[bootstrapMeanCI]]'s, plus the unit count.
   *
   * @param components (id, component_id) — e.g.
   *        [[graft.dedup.Dedup.connectedComponents]] output
   * @return one row: (n, sum_total, mean_scaled, n_units, n_reps,
   *         lo_rank, hi_rank, lo_num, lo_den, lo_scaled, hi_num,
   *         hi_den, hi_scaled)
   */
  def clusterBootstrapMeanCI(df: DataFrame, key: Column, value: Column,
      components: DataFrame, reps: Int, seed: String,
      tailDen: Int): DataFrame = {
    require(reps > 0 && tailDen > 1 && reps % tailDen == 0,
      s"reps ($reps) must be a positive multiple of tailDen ($tailDen)")
    val base = df.select(key.cast("string").as("k"),
        value.cast("long").as("v"))
      .filter(col("k").isNotNull && col("v").isNotNull)
    val comp = components.select(col("id").cast("string").as("cid"),
      col("component_id").cast("string").as("cgroup"))
    val perCluster = base.join(comp, col("k") === col("cid"), "left")
      .select(coalesce(col("cgroup"), col("k")).as("c"), col("v"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
    val obs = perCluster.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
      coalesce(sum(col("sv")), lit(0L)).as("s"),
      count(lit(1)).as("n_units"))
    val perRep = perCluster
      .select(col("c"), col("cnt"), col("sv"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("b"), col("cnt"), col("sv"),
        poissonWeight(seed, col("b"), col("c")).as("w"))
      .groupBy(col("b"))
      .agg(coalesce(sum(col("w") * col("cnt")), lit(0L)).as("nb"),
        coalesce(sum(col("w") * col("sv")), lit(0L)).as("sb"))
    ciFromReplicates(perRep, obs, reps, tailDen)
      .select(col("n"), col("sum_total"), col("mean_scaled"),
        col("n_units"), col("n_reps"), col("lo_rank"), col("hi_rank"),
        col("lo_num"), col("lo_den"), col("lo_scaled"),
        col("hi_num"), col("hi_den"), col("hi_scaled"))
  }

  /**
   * [[bootstrapMeanCI]] PER GROUP in one corpus scan — the error bar
   * next to every per-source mean in a drift report, priced once: each
   * row resamples inside its own group (the Poisson weight is keyed on
   * the row, so a row's weight in replicate b is the same whether the
   * caller asks for one CI or per-group CIs — grouped CIs of a
   * partition refine the global CI's randomness, not redraw it), the
   * B-fold expansion collapses under the partial aggregate to
   * |groups|·B summary rows, and the order-statistic window partitions
   * by group. Same output schema as [[bootstrapMeanCI]] plus the
   * leading group column, one row per group.
   */
  def groupedBootstrapMeanCI(df: DataFrame, key: Column, value: Column,
      group: Column, reps: Int, seed: String, tailDen: Int): DataFrame = {
    require(reps > 0 && tailDen > 1 && reps % tailDen == 0,
      s"reps ($reps) must be a positive multiple of tailDen ($tailDen)")
    val lo = reps / tailDen
    val hi = reps - lo + 1
    val scale = "1000000000000000" // 10^15
    // Slim fan-out before the B-fold expansion (see randomizationTest).
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"),
        value.cast("long").as("v"), group.cast("string").as("g"))
      .filter(col("k").isNotNull && col("v").isNotNull && col("g").isNotNull))
    val obs = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("v")), lit(0L)).as("s"))
    val perGB = base
      .select(col("g"), col("k"), col("v"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("g"), col("b"), col("v"),
        poissonWeight(seed, col("b"), col("k")).as("w"))
      .groupBy(col("g"), col("b"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("nb"),
        coalesce(sum(col("w") * col("v")), lit(0L)).as("sb"))
    val ranked = perGB
      .withColumn("q", when(col("nb") === 0L, expr(s"cast(-1 as $dec)"))
        .otherwise(expr(s"cast(cast(sb as $dec) * $scale div " +
          s"cast(nb as $dec) as $dec)")))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("q").asc, col("b").asc))
        .cast("long"))
    // *_scaled ship as BIGINT per the FIXTURES.md output-type contract
    // (see ciFromReplicates); ordering stays decimal(38,0) internally.
    val picked = ranked.groupBy(col("g")).agg(
      max(when(col("r") === lo, col("sb"))).as("lo_num"),
      max(when(col("r") === lo, col("nb"))).as("lo_den"),
      max(when(col("r") === lo, col("q"))).cast("long").as("lo_scaled"),
      max(when(col("r") === hi, col("sb"))).as("hi_num"),
      max(when(col("r") === hi, col("nb"))).as("hi_den"),
      max(when(col("r") === hi, col("q"))).cast("long").as("hi_scaled"))
    obs.join(picked, Seq("g"))
      .select(col("g"), col("n"), col("s").as("sum_total"),
        when(col("n") === 0L, lit(-1L))
          .otherwise(expr(s"cast(cast(s as $dec) * $scale div " +
            s"cast(n as $dec) as long)")).as("mean_scaled"),
        lit(reps.toLong).as("n_reps"), lit(lo.toLong).as("lo_rank"),
        lit(hi.toLong).as("hi_rank"),
        col("lo_num"), col("lo_den"), col("lo_scaled"),
        col("hi_num"), col("hi_den"), col("hi_scaled"))
      .orderBy(col("g"))
  }

  /**
   * Percentile-bootstrap CI for the DIFFERENCE of two means over
   * overlapping corpora (release A vs release B as membership flags on
   * ONE scan) — the effect-size-with-uncertainty read next to
   * [[Balance.mixShift]]'s TV point estimate and [[fdrDriftSweep]]'s
   * which-sources-moved: "the mean moved +2.3 tokens" is only a
   * finding with an interval around it.
   *
   * PAIRED by construction: a row's Poisson weight in replicate b is
   * keyed on the row alone, so a document in BOTH releases carries the
   * same weight on both sides and its noise cancels out of the
   * difference — the bootstrap analogue of a paired test, tighter than
   * resampling each release independently exactly where the releases
   * overlap.
   *
   * Replicates order by the DETERMINISTIC 10¹⁵-scaled floor difference
   * (qA − qB, each term the [[bootstrapMeanCI]] integer quotient;
   * engine-identical by construction), ties by replicate index; the
   * SHIPPED bounds are the picked replicates' exact cross-multiplied
   * rationals diff = (sbA·nbB − sbB·nbA) / (nbA·nbB). A replicate with
   * an empty side sorts first (scaled key −10¹⁸, below any real
   * difference) and ships NULL bounds if picked — visible, never
   * mispriced.
   *
   * Scale contract: ONE corpus pass (rows in either release), the
   * B-fold expansion under the partial aggregate, a B-row window.
   *
   * @return one row: (n_a, n_b, sum_a, sum_b, diff_num, diff_den,
   *         n_reps, lo_rank, hi_rank, lo_num, lo_den, hi_num, hi_den)
   *         — observed diff and CI bounds all exact rationals, shipped
   *         as STRINGs (the FIXTURES.md output-type contract: the cross
   *         products outgrow int64 at 100-TB scale)
   */
  def bootstrapMeanDiffCI(df: DataFrame, key: Column, value: Column,
      inA: Column, inB: Column, reps: Int, seed: String,
      tailDen: Int): DataFrame = {
    require(reps > 0 && tailDen > 1 && reps % tailDen == 0,
      s"reps ($reps) must be a positive multiple of tailDen ($tailDen)")
    val lo = reps / tailDen
    val hi = reps - lo + 1
    val scale = "1000000000000000" // 10^15
    val base = graft.dedup.Dedup.fanOutSmallScan(
      df.select(key.cast("string").as("k"), value.cast("long").as("v"),
        inA.cast("boolean").as("a"), inB.cast("boolean").as("bb"))
      .filter(col("k").isNotNull && col("v").isNotNull &&
        col("a").isNotNull && col("bb").isNotNull &&
        (col("a") || col("bb"))))
    val obs = base.agg(
      coalesce(sum(when(col("a"), 1L).otherwise(0L)), lit(0L)).as("n_a"),
      coalesce(sum(when(col("bb"), 1L).otherwise(0L)), lit(0L)).as("n_b"),
      coalesce(sum(when(col("a"), col("v")).otherwise(0L)), lit(0L)).as("sum_a"),
      coalesce(sum(when(col("bb"), col("v")).otherwise(0L)), lit(0L)).as("sum_b"))
    val perRep = base
      .select(col("k"), col("v"), col("a"), col("bb"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("v"), col("a"), col("bb"), col("b"),
        poissonWeight(seed, col("b"), col("k")).as("w"))
      .groupBy(col("b"))
      .agg(
        coalesce(sum(when(col("a"), col("w")).otherwise(0L)), lit(0L)).as("na"),
        coalesce(sum(when(col("a"), col("w") * col("v")).otherwise(0L)),
          lit(0L)).as("sa"),
        coalesce(sum(when(col("bb"), col("w")).otherwise(0L)), lit(0L)).as("nb"),
        coalesce(sum(when(col("bb"), col("w") * col("v")).otherwise(0L)),
          lit(0L)).as("sb"))
    val ranked = perRep
      .withColumn("q", when(col("na") === 0L || col("nb") === 0L,
          expr(s"cast(-1000000000000000000 as $dec)"))
        .otherwise(expr(s"cast(cast(sa as $dec) * $scale div " +
          s"cast(na as $dec) as $dec) - cast(cast(sb as $dec) * $scale " +
          s"div cast(nb as $dec) as $dec)")))
      .withColumn("r", row_number().over(
        Window.orderBy(col("q").asc, col("b").asc)).cast("long"))
    // diff/bound rationals ship as STRING per the FIXTURES.md contract:
    // the cross products (Σv·n, n_a·n_b) outgrow int64 at 100-TB scale.
    // Arithmetic stays exact decimal(38,0) internally; a picked empty
    // side ships NULL (cast of a null decimal stays null).
    def pickSide(rank: Int, tag: String) = Seq(
      max(when(col("r") === rank && col("na") =!= 0L && col("nb") =!= 0L,
        expr(s"cast(sa as $dec) * cast(nb as $dec) - " +
          s"cast(sb as $dec) * cast(na as $dec)"))).cast("string")
        .as(s"${tag}_num"),
      max(when(col("r") === rank && col("na") =!= 0L && col("nb") =!= 0L,
        expr(s"cast(na as $dec) * cast(nb as $dec)"))).cast("string")
        .as(s"${tag}_den"))
    val picks = pickSide(lo, "lo") ++ pickSide(hi, "hi")
    val picked = ranked.agg(picks.head, picks.tail: _*)
    broadcast(obs).crossJoin(broadcast(picked))
      .select(col("n_a"), col("n_b"), col("sum_a"), col("sum_b"),
        expr(s"cast(sum_a as $dec) * cast(n_b as $dec) - " +
          s"cast(sum_b as $dec) * cast(n_a as $dec)").cast("string")
          .as("diff_num"),
        expr(s"cast(n_a as $dec) * cast(n_b as $dec)").cast("string")
          .as("diff_den"),
        lit(reps.toLong).as("n_reps"), lit(lo.toLong).as("lo_rank"),
        lit(hi.toLong).as("hi_rank"),
        col("lo_num"), col("lo_den"), col("hi_num"), col("hi_den"))
  }

  /**
   * Percentile-bootstrap CI for a RATIO over pre-aggregated resampling
   * units — the generalization behind "X% of tokens removed, ±CI":
   * each unit row carries exact integer (den, num) parts (e.g. a
   * near-dup component's total tokens and its removable tokens), units
   * resample with the pinned Poisson weights, and each replicate's
   * ratio Σw·num / Σw·den rides the [[bootstrapMeanCI]] order-statistic
   * machinery (same 10¹⁵-scaled ordering, same exact integer-pair
   * bounds). The caller owns the unit construction — this is the
   * uncertainty layer for ANY unit-decomposable rate.
   *
   * Scale contract: the expansion runs over |units|·B summary rows
   * (units are pre-aggregated — row volume died in the caller's
   * grouping); the window is B rows.
   *
   * @param units (u, den, num) — unit key and exact integer parts
   * @return one row: (n_units, den_total, num_total, ratio_scaled,
   *         n_reps, lo_rank, hi_rank, lo_num, lo_den, lo_scaled,
   *         hi_num, hi_den, hi_scaled)
   */
  def unitBootstrapRatioCI(units: DataFrame, unit: Column, den: Column,
      num: Column, reps: Int, seed: String, tailDen: Int): DataFrame = {
    require(reps > 0 && tailDen > 1 && reps % tailDen == 0,
      s"reps ($reps) must be a positive multiple of tailDen ($tailDen)")
    val base = units.select(unit.cast("string").as("u"),
        den.cast("long").as("d"), num.cast("long").as("m"))
      .filter(col("u").isNotNull && col("d").isNotNull && col("m").isNotNull)
    val obs = base.agg(count(lit(1)).as("n_units"),
      coalesce(sum(col("d")), lit(0L)).as("n"),
      coalesce(sum(col("m")), lit(0L)).as("s"))
    val perRep = base
      .select(col("u"), col("d"), col("m"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("b"), col("d"), col("m"),
        poissonWeight(seed, col("b"), col("u")).as("w"))
      .groupBy(col("b"))
      .agg(coalesce(sum(col("w") * col("d")), lit(0L)).as("nb"),
        coalesce(sum(col("w") * col("m")), lit(0L)).as("sb"))
    // ciFromReplicates's (n, s) are this ratio's (Σden, Σnum): the
    // replicate quotient sb/nb IS Σw·num / Σw·den.
    ciFromReplicates(perRep, obs, reps, tailDen)
      .select(col("n_units"), col("n").as("den_total"),
        col("sum_total").as("num_total"),
        col("mean_scaled").as("ratio_scaled"),
        col("n_reps"), col("lo_rank"), col("hi_rank"),
        col("lo_num"), col("lo_den"), col("lo_scaled"),
        col("hi_num"), col("hi_den"), col("hi_scaled"))
  }

  /** Shared CI tail: order the B replicate (sb, nb) pairs by exact
   * scaled quotient, pick the lo/hi order statistics, staple the
   * observed totals. The window is over B rows (the audit-window knob),
   * never data. Any extra columns on `obs` (e.g. n_units) pass through.
   *
   * NON-NEGATIVE-VALUE contract, ENFORCED: the "empty replicate sorts
   * first" trick uses sentinel q = −1, which only undercuts every real
   * replicate when the metric is non-negative (all callers feed counts
   * or token totals); and for a negative in-range mean Spark's `div`
   * truncates toward zero while the DuckDB oracle's `//` floors, so a
   * signed caller would additionally get off-by-one scaled quotients
   * between engines. A negative replicate or observed sum therefore
   * RAISES (loud, both directions impossible to silently diverge) —
   * a signed caller must first switch to an is_empty leading sort key
   * and the quantizedDeltas sign-decomposed division.
   *
   * Output types (the FIXTURES.md contract): the `*_scaled` quotients
   * ship as BIGINT — exact and in-range while the mean < 2⁶³/10¹⁵ ≈
   * 9.2·10³ value units (token-count means sit far below; the exact
   * (num, den) pairs are the unbounded columns). The bound is ENFORCED:
   * an out-of-range mean raises at execution (matching the DuckDB
   * oracle's ::BIGINT raise) instead of non-ANSI-nulling the display
   * columns. Ordering stays decimal(38,0) internally. */
  private def ciFromReplicates(perRep: DataFrame, obs: DataFrame,
      reps: Int, tailDen: Int): DataFrame = {
    val lo = reps / tailDen
    val hi = reps - lo + 1
    val scale = "1000000000000000" // 10^15
    // Scaled-quotient domain guard: `div` materializes a LONG, so a
    // replicate mean ≥ 2⁶³/10¹⁵ ≈ 9.2·10³ value units would overflow —
    // and under non-ANSI Spark that is a silent NULL (mis-ranked as the
    // empty sentinel here, shipped as NULL *_scaled downstream) while
    // the DuckDB oracle's ::BIGINT RAISES, so the engines would diverge
    // in failure mode. Out-of-range means fail loudly on BOTH sides
    // instead; the exact (num, den) pairs remain the unbounded columns.
    // abs(): the guard must cover BOTH directions — current callers
    // feed non-negative metrics (the sentinel contract above), but a
    // signed caller's mean below −2⁶³/10¹⁵ would otherwise still
    // silently NULL (one-sided guards were the r16 self-review's
    // surviving correctness finding).
    val inLongRange =
      expr(s"abs(cast(sb as $dec)) * $scale < cast(nb as $dec) * 9223372036854775807")
    // The non-negativity contract (scaladoc above) is enforced HERE,
    // not just stated: a negative sum would both mis-rank against the
    // −1 empty sentinel and round differently between Spark's
    // truncating `div` and the oracle's flooring `//` — two silent
    // divergences for the price of one missing guard.
    val ranked = perRep
      .withColumn("q", when(col("nb") === 0L, expr(s"cast(-1 as $dec)"))
        .when(col("sb") < 0L, raise_error(lit("ciFromReplicates: " +
          "negative replicate sum — this CI tail is contractually " +
          "non-negative (−1 empty sentinel + floor-vs-truncate div); " +
          "signed metrics need an is_empty sort key and sign-decomposed " +
          "division")))
        .when(inLongRange,
          expr(s"cast(cast(sb as $dec) * $scale div " +
            s"cast(nb as $dec) as $dec)"))
        .otherwise(raise_error(lit("ciFromReplicates: replicate mean " +
          "exceeds the 10^15-scaled BIGINT display domain (|mean| >= " +
          "~9.2e3 value units); consume the exact (num, den) pairs or " +
          "rescale the metric"))))
      .withColumn("r", row_number().over(
        Window.orderBy(col("q").asc, col("b").asc)).cast("long"))
    val picked = ranked.agg(
      max(when(col("r") === lo, col("sb"))).as("lo_num"),
      max(when(col("r") === lo, col("nb"))).as("lo_den"),
      max(when(col("r") === lo, col("q"))).cast("long").as("lo_scaled"),
      max(when(col("r") === hi, col("sb"))).as("hi_num"),
      max(when(col("r") === hi, col("nb"))).as("hi_den"),
      max(when(col("r") === hi, col("q"))).cast("long").as("hi_scaled"))
    broadcast(obs).crossJoin(broadcast(picked))
      .withColumn("mean_scaled",
        when(col("n") === 0L, lit(-1L))
          .when(col("s") < 0L, raise_error(lit("ciFromReplicates: " +
            "negative observed sum — this CI tail is contractually " +
            "non-negative; see the replicate-side guard")))
          .when(expr(s"abs(cast(s as $dec)) * $scale < " +
              s"cast(n as $dec) * 9223372036854775807"),
            expr(s"cast(cast(s as $dec) * $scale div " +
              s"cast(n as $dec) as long)"))
          .otherwise(raise_error(lit("ciFromReplicates: observed |mean| " +
            "exceeds the 10^15-scaled BIGINT display domain; consume " +
            "the exact (num, den) pairs or rescale the metric"))))
      .withColumn("n_reps", lit(reps.toLong))
      .withColumn("lo_rank", lit(lo.toLong))
      .withColumn("hi_rank", lit(hi.toLong))
      .withColumnRenamed("s", "sum_total")
  }

  /** BH step-up over the per-group exceedance counts (|groups| rows). */
  private def bhStepUp(perms: Int, fdrNum: Long, fdrDen: Long)
      (perG: DataFrame): DataFrame = {
    val m = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = perG
      .withColumn("bh_rank", row_number().over(
        Window.orderBy(col("n_exceed").asc, col("tg").asc)).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(m))
    ranked
      .withColumn("ok",
        (col("n_exceed") + 1L) * col("m_tests") * lit(fdrDen) <=
          col("bh_rank") * lit(perms.toLong + 1L) * lit(fdrNum))
      .withColumn("cutoff", max(when(col("ok"), col("bh_rank"))).over(m))
      .select(col("tg").as("g"), col("n_g"), col("sum_g"),
        // STRING per the FIXTURES.md output-type contract: the cross
        // products outgrow int64 at 100-TB scale (exact decimal(38,0)
        // internally; see randomizationTest's note).
        col("stat_num").cast("string").as("stat_num"),
        col("stat_den").cast("string").as("stat_den"), col("n_exceed"),
        (col("n_exceed") + 1L).as("p_num"),
        lit(perms.toLong + 1L).as("p_den"),
        col("bh_rank"),
        (col("bh_rank") <= coalesce(col("cutoff"), lit(0L))).as("rejected"))
      .orderBy(col("g"))
  }
}
