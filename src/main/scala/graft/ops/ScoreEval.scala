package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Threshold-free evaluation of SCORING classifiers — the gap left
  * open by [[Agreement]]: classifierReport/kappa grade a labeler's
  * hard DECISIONS against gold, but the pipeline's quality gates
  * (q20 qualityScore, q21 langId's marker-hit vote, q118 NB, q127
  * DSIR) are all built on an underlying SCORE that someone then
  * thresholds. Before fixing a threshold for a 100 TB curation run,
  * the score itself needs grading: does it RANK positives above
  * negatives (ROC-AUC), what does each candidate cutoff trade
  * (rocCurve), and when the score claims to be a probability, is it
  * honest (calibration / ECE)?
  *
  * Input contract (the repo-wide quantization discipline): `score`
  * is an INTEGRAL column — quantize floats to the resolution you
  * can distinguish (milli-units etc.) before calling; ties at the
  * chosen resolution are handled exactly (midrank / trapezoid
  * semantics). `label` must be 0/1 — anything else raises.
  *
  * Determinism: everything is exact integer mass until one final
  * correctly-rounded IEEE division per output metric (the
  * [[Agreement]] convention); pair products go through
  * DECIMAL(38,0) (n_pos·n_neg reaches ~1e24 at 1e12-row corpora —
  * far past BIGINT, comfortably inside 38 digits).
  *
  * Scale shape: ONE map-side-combined corpus scan to the per-score
  * census `(s, pos, neg)` — sized by the score column's distinct
  * quantized values, NOT the corpus; cumulatives over the census go
  * through [[PrefixSum.withRunningTotal]] (two-phase scan), so even
  * a micro-quantized score with 1e6+ distinct values never hits the
  * single-partition-window trap.
  */
object ScoreEval {

  /** 0/1 guard: pass the label through or raise with the offending
    * value — a silent cast would count every nonzero as its integer
    * value and quietly corrupt the census. A NULL label raises too
    * (both comparisons are null → `otherwise` fires), with the value
    * spelled "null" — an un-coalesced interpolation would make
    * `concat` return NULL and raise_error lose the diagnostic.
    */
  private def binary(label: Column, what: String): Column = {
    val l = label.cast("long")
    when(l === 0L || l === 1L, l)
      .otherwise(raise_error(concat(
        lit(s"ScoreEval: $what must be 0 or 1, got "),
        coalesce(l.cast("string"), lit("null")))))
  }

  /** The per-score census: one row per distinct score value with
    * exact positive/negative counts. One corpus scan, map-side
    * combined. Exposed package-private so the streaming score pump
    * can fold per-batch censuses into durable state (counts are
    * additive, so drain == batch).
    *
    * NULL scores are EXCLUDED (and `n_pos`/`n_neg` count the
    * remaining rows): a null score carries no rank information, and
    * keeping it as a census row would make the cumulative CDF
    * engine-dependent — Spark's ascending sort places nulls FIRST
    * while DuckDB's ORDER BY defaults to NULLS LAST. A null LABEL
    * still raises (that is an upstream bug, not a missing
    * measurement).
    */
  private[graft] def scoreCensus(df: DataFrame, score: Column,
      label: Column): DataFrame = {
    val y = binary(label, "label")
    df.select(score.cast("long").as("s"), y.as("y"))
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
  }

  /** ROC-AUC by the exact rank statistic (Mann–Whitney U with
    * midrank ties): AUC = P(s_pos > s_neg) + ½·P(s_pos = s_neg)
    * over all positive×negative pairs. Over the score census the
    * doubled pair mass is
    *
    *   2U = Σ_s pos(s) · (2·neg(<s) + neg(s))
    *
    * — one exact DECIMAL(38,0) integer — and
    * `auc = 2U / (2·n_pos·n_neg)` is ONE correctly-rounded IEEE
    * division of exact integers, bit-portable. A single-class input
    * (no pairs to rank) reports 0.0, never NaN, with the class
    * counts visible beside it.
    *
    * Returns one row: `(n_pos, n_neg, auc)`.
    */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame =
    rocAucFromCensus(scoreCensus(df, score, label))

  /** [[rocAuc]] over a pre-built `(s, pos, neg)` score census — the
    * face the streaming score pump's durable state feeds (per-score
    * counts are additive and commutative, so the drained census must
    * grade identically to the batch scan). Same mass, same single
    * division, one code path.
    */
  def rocAucFromCensus(census: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = PrefixSum.withRunningTotal(census,
      Seq(col("s")), col("neg"), "cum_neg")
    cum.agg(
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"),
        coalesce(sum(col("pos").cast(dec) *
            (lit(2L) * (col("cum_neg") - col("neg")) + col("neg")).cast(dec)),
          lit(0L).cast(dec)).as("m2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
            col("m2").cast("double") /
              (lit(2L).cast(dec) * col("n_pos").cast(dec) *
                col("n_neg").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("auc"))
  }

  /** The full threshold sweep behind [[rocAuc]]'s single number: one
    * row per distinct score value `thr`, grading the rule "predict
    * positive when score ≥ thr" — the operating-point table a
    * curation run reads to PICK its cutoff (q21's minHits=2 is
    * exactly such a row). Confusion counts are exact integers; each
    * rate is one correctly-rounded division (tpr/fpr of an absent
    * class report 0.0). `prec` never divides by zero: at an observed
    * threshold at least that score's own rows are predicted
    * positive.
    *
    * Returns `(thr, tp, fp, fn, tn, tpr, fpr, prec, rec, f1)` ordered
    * by `thr` — `rec` (= tp/(tp+fn), numerically the tpr column, kept
    * under the name an operating-table reader greps for beside
    * `prec`) and `f1 = 2·tp/(2·tp+fp+fn)` are each one more exact
    * division off the same census row (a degenerate threshold with
    * no gold positives and no predicted positives reports 0.0).
    * Census-sized output — score quantization bounds it.
    */
  def rocCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    val cum = PrefixSum.withRunningTotals(scoreCensus(df, score, label),
      Seq(col("s")), Seq(col("neg") -> "cum_neg", col("pos") -> "cum_pos"))
    // one global row; broadcast to every census row
    val globals = cum.agg(
      coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
      coalesce(sum(col("neg")), lit(0L)).as("n_neg"))
    cum.crossJoin(broadcast(globals))
      .select(col("s").as("thr"),
        (col("n_pos") - (col("cum_pos") - col("pos"))).as("tp"),
        (col("n_neg") - (col("cum_neg") - col("neg"))).as("fp"),
        (col("cum_pos") - col("pos")).as("fn"),
        (col("cum_neg") - col("neg")).as("tn"),
        col("n_pos"), col("n_neg"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("n_pos") > 0,
            col("tp").cast("double") / col("n_pos").cast("double"))
          .otherwise(lit(0.0)).as("tpr"),
        when(col("n_neg") > 0,
            col("fp").cast("double") / col("n_neg").cast("double"))
          .otherwise(lit(0.0)).as("fpr"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("prec"),
        when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("rec"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            (lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("f1"))
      .orderBy("thr")
  }

  /** Average precision (the area under the precision-recall curve in
    * its standard step form): walking thresholds from the strictest
    * down, each threshold's positives contribute the precision AT
    * that operating point —
    *
    *   AP = Σ_s pos(s) · prec(≥s) / n_pos,  prec(≥s) = cumPos/cumN
    *
    * — [[rocAuc]]'s class-imbalance-robust complement: with 1e9
    * negatives per positive, ROC-AUC barely moves when false
    * positives double, PR-AUC halves. The grade that matters when
    * the positive class is the rare one (contamination hits, PII,
    * toxic spans).
    *
    * Determinism (the q102 micro-unit discipline): each threshold's
    * precision is rounded ONCE to integer micro-units via exact
    * integer division — `prec_micro = (2e6·cumPos + cumN) div
    * (2·cumN)` is floor(1e6·p/q + ½) computed without any float —
    * after which the AP numerator `Σ pos(s)·prec_micro` is ONE exact
    * DECIMAL(38,0) integer and `ap = mass / (1e6·n_pos)` ONE
    * correctly-rounded division. No-positive input reports 0.0.
    *
    * Returns one row: `(n_pos, n_neg, ap)`. Scale shape: identical
    * to [[rocAuc]] — one corpus scan to the score census, census
    * cumulatives via the two-phase prefix sum.
    */
  def averagePrecision(df: DataFrame, score: Column,
      label: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = PrefixSum.withRunningTotals(scoreCensus(df, score, label),
      Seq(col("s")), Seq(col("neg") -> "cum_neg", col("pos") -> "cum_pos"))
    val globals = cum.agg(
      coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
      coalesce(sum(col("neg")), lit(0L)).as("n_neg"))
    cum.crossJoin(broadcast(globals))
      // counts at-or-above s off the ascending running totals
      .withColumn("p_ge", col("n_pos") - (col("cum_pos") - col("pos")))
      .withColumn("n_ge", col("p_ge") +
        (col("n_neg") - (col("cum_neg") - col("neg"))))
      // floor(1e6·p/q + ½) as exact integral division (DECIMAL
      // operands, `div` returns LONG); n_ge ≥ pos(s) ≥ 1 per census
      // row, so the divisor is never zero
      .withColumn("prec_micro", expr(
        "(CAST(2000000 AS DECIMAL(38,0)) * CAST(p_ge AS DECIMAL(38,0)) +" +
          " CAST(n_ge AS DECIMAL(38,0))) div" +
          " (CAST(2 AS DECIMAL(38,0)) * CAST(n_ge AS DECIMAL(38,0)))"))
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        coalesce(sum(col("pos").cast(dec) * col("prec_micro").cast(dec)),
          lit(0L).cast(dec)).as("mass"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
            col("mass").cast("double") /
              (lit(1000000L).cast(dec) * col("n_pos").cast(dec))
                .cast("double"))
          .otherwise(lit(0.0)).as("ap"))
  }

  /** Brier score — the mean squared gap between a claimed
    * probability and the 0/1 outcome, `Σ(conf/1000 − y)²/N`: the
    * single proper scoring rule complement of [[calibration]]'s
    * binned diagram (ECE can be gamed by a constant base-rate
    * predictor; the Brier score penalizes exactly the
    * sharpness-without-honesty and honesty-without-sharpness a
    * mixture-weighting confidence must have). Same input contract as
    * [[calibration]]: integer milli-unit confidence (out-of-range
    * raises), 0/1 outcome.
    *
    * Determinism: `Σ(conf − 1000·y)²` is ONE exact DECIMAL(38,0)
    * integer; the score is one correctly-rounded division by 1e6·N.
    * Empty input reports 0.0. Scale shape: one map-side-combined
    * corpus aggregate — no census, no join.
    *
    * Returns one row: `(n, brier)`.
    */
  def brier(df: DataFrame, confMilli: Column, correct: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val c = confMilli.cast("long")
    val conf = when(c >= 0L && c <= 1000L, c)
      .otherwise(raise_error(concat(
        lit("ScoreEval: confMilli must be in [0,1000], got "),
        coalesce(c.cast("string"), lit("null")))))
    val gap = conf - lit(1000L) * binary(correct, "correct")
    df.select(gap.as("g"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum((col("g") * col("g")).cast(dec)), lit(0L).cast(dec))
          .as("mass"))
      .select(col("n"),
        when(col("n") > 0,
            col("mass").cast("double") /
              (lit(1000000L).cast(dec) * col("n").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("brier"))
  }

  /** Reliability diagram + expected calibration error (ECE, Guo et
    * al. 2017) for a score that CLAIMS to be a probability:
    * `confMilli` (0..1000 integer milli-units — out-of-range
    * raises) is bucketed into `bins` equal-width confidence bins;
    * per bin the claimed mean confidence is compared with the
    * realized accuracy, and ECE is the corpus-weighted mean absolute
    * gap:
    *
    *   ECE = Σ_b |1000·correct_b − Σconf_b| / (1000·N)
    *
    * — the numerator one exact DECIMAL(38,0) integer per bin, ECE
    * one correctly-rounded division. A labeler can have high AUC and
    * terrible calibration (or vice versa); mixture-weighting by
    * classifier confidence (the q117 DSIR shape) is only sound when
    * this gap is small.
    *
    * Returns one row per non-empty bin: `(bin, n, n_correct,
    * conf_sum_milli, acc, conf_mean, ece)` with the global ECE
    * repeated per row (flat schema, like classifierReport), ordered
    * by `bin`. Scale shape: one corpus scan to a bins-sized census.
    */
  def calibration(df: DataFrame, confMilli: Column, correct: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 1000, s"bins must be in [1,1000]: $bins")
    val dec = "decimal(38,0)"
    val c = confMilli.cast("long")
    val conf = when(c >= 0L && c <= 1000L, c)
      .otherwise(raise_error(concat(
        lit("ScoreEval: confMilli must be in [0,1000], got "),
        coalesce(c.cast("string"), lit("null")))))
    // conf 1000 folds into the top bin (the standard half-open
    // binning with the last bin closed)
    val bin = least(expr(s"(__conf * $bins) div 1000"), lit(bins - 1L))
    val cells = df.select(conf.as("__conf"),
        binary(correct, "correct").as("__ok"))
      .select(bin.as("bin"), col("__conf"), col("__ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__ok")).as("n_correct"),
        sum(col("__conf")).as("conf_sum_milli"))
    val globals = cells.agg(
        coalesce(sum(col("n")), lit(0L)).cast(dec).as("nn"),
        coalesce(sum(abs(lit(1000L).cast(dec) * col("n_correct").cast(dec) -
            col("conf_sum_milli").cast(dec))), lit(0L).cast(dec)).as("mass"))
      .select(when(col("nn") > 0,
          col("mass").cast("double") /
            (lit(1000L).cast(dec) * col("nn")).cast("double"))
        .otherwise(lit(0.0)).as("ece"))
    cells
      .select(col("bin"), col("n"), col("n_correct"), col("conf_sum_milli"),
        (col("n_correct").cast("double") / col("n").cast("double")).as("acc"),
        (col("conf_sum_milli").cast("double") /
          (lit(1000L) * col("n")).cast("double")).as("conf_mean"))
      .crossJoin(broadcast(globals))
      .orderBy("bin")
  }

  /** Tie-corrected Spearman rank correlation between two INTEGRAL
    * score columns — "do these two quality signals agree on the
    * ORDERING of the corpus?", the question behind every rank-fusion
    * weight (q125) and signal-redundancy audit; Pearson (q91)
    * answers linearity, not ordering, and [[graft.vector.Eval]]'s
    * RBO only grades top-k lists, not full-corpus scores.
    *
    * Formula (doubled-midrank units so every quantity is an exact
    * integer): with per-value tie terms `T_x = Σ(t³−t)` off the x
    * census,
    *
    *   S4x = (n³ − n − T_x)/3   (exact: both terms divide by 3)
    *   rho = (S4x + S4y − Σd²) / (2·√S4x·√S4y),  d = rx2 − ry2
    *
    * where rx2 = 2·midrank(x). Determinism: Σd² and the tie terms
    * are exact DECIMAL(38,0)/BigInt integers; rho is the FIXED IEEE
    * sequence num.toDouble / (2·sqrt(S4x.toDouble)·sqrt(S4y.toDouble))
    * — mirrored op-for-op by the oracle. A constant column (zero
    * rank variance) reports 0.0, never NaN. n ≤ ~1.2e9 keeps n³
    * inside 38 digits — quantized-score evaluations past that should
    * sample first (documented contract, enforced loudly).
    *
    * Scale shape: two census group-bys (distinct-value-sized), each
    * midranked via [[PrefixSum.withRunningTotal]] (no
    * single-partition window at ANY score cardinality), joined back
    * to the corpus by value (AQE broadcasts small censuses), one
    * corpus aggregate; the finisher is BigInt driver math on four
    * scalars. Returns one row: `(n, rho)`.
    */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(x.cast("long").as("x"), y.cast("long").as("y"))

    def midranks(valCol: String): (DataFrame, BigInt) = {
      val census = base.groupBy(col(valCol))
        .agg(count(lit(1)).as("t")).localCheckpoint()
      val tie = census.agg(coalesce(sum(
          (col("t").cast(dec) * col("t").cast(dec) * col("t").cast(dec) -
            col("t").cast(dec))), lit(0L).cast(dec)).as("tie"))
        .head().getDecimal(0)
      val ranked = PrefixSum.withRunningTotal(census, Seq(col(valCol)),
          col("t"), "cum")
        .select(col(valCol),
          (lit(2L) * col("cum") - col("t") + lit(1L)).as(s"r$valCol"))
      (ranked, BigInt(tie.toBigInteger))
    }

    val (rx, tieX) = midranks("x")
    val (ry, tieY) = midranks("y")
    val g = base.join(rx, Seq("x")).join(ry, Seq("y"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .cast(dec)), lit(0L).cast(dec)).as("d2"))
      .head()
    val n = BigInt(g.getLong(0))
    require(n <= BigInt("1200000000"),
      s"spearman: n=$n exceeds the exact-integer bound (~1.2e9, n^3 must " +
        "fit DECIMAL(38,0)) — sample the corpus first")
    val d2 = BigInt(g.getDecimal(1).toBigInteger)
    val s4x = (n * n * n - n - tieX) / 3
    val s4y = (n * n * n - n - tieY) / 3
    val rho =
      if (s4x == 0 || s4y == 0) 0.0
      else (s4x + s4y - d2).toDouble /
        (2.0 * math.sqrt(s4x.toDouble) * math.sqrt(s4y.toDouble))
    df.sparkSession.range(1)
      .select(lit(n.toLong).as("n"), lit(rho).as("rho"))
  }

  /** Binary log-loss (cross-entropy) — the OTHER proper scoring rule
    * beside [[brier]]: both penalize dishonest confidence, but
    * log-loss diverges as a confident claim approaches certain-and-
    * wrong, which is exactly the failure mode that matters when the
    * confidence WEIGHTS a mixture (one certain-wrong document costs
    * unboundedly, not quadratically). `confMilli` is the claimed
    * probability of the POSITIVE outcome in integer milli-units and
    * must lie in [1, 999]: 0 and 1000 claim certainty, whose loss on
    * a miss is infinite — refused loudly rather than silently
    * clipped (quantize with a clamp FIRST if the upstream score can
    * saturate).
    *
    * Determinism (the q102/q172 micro-nat discipline): the per-cell
    * loss `m = floor(−ln(p_true/1000) · 1e6 + 0.5)` is computed ONCE
    * per distinct (conf, y) census cell — at most 2·999 cells, so at
    * most that many libm calls anywhere, each on the same exact
    * rational argument in any engine — and the corpus mass
    * `Σ n_cell · m_cell` is ONE exact DECIMAL(38,0) integer;
    * `logloss = mass / (1e6·N)` is one correctly-rounded division.
    * Empty input reports 0.0.
    *
    * Scale shape: one map-side-combined corpus scan to the
    * (conf, y) census; everything after is census-sized. Returns one
    * row: `(n, logloss_nats)`.
    */
  def logLoss(df: DataFrame, confMilli: Column,
      correct: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val c = confMilli.cast("long")
    val conf = when(c >= 1L && c <= 999L, c)
      .otherwise(raise_error(concat(
        lit("ScoreEval: confMilli must be in [1,999] (0 and 1000 claim " +
          "certainty — infinite loss on a miss), got "),
        coalesce(c.cast("string"), lit("null")))))
    val cells = df.select(conf.as("conf"), binary(correct, "y").as("y"))
      .groupBy(col("conf"), col("y")).agg(count(lit(1)).as("n"))
    val pTrue = when(col("y") === 1L, col("conf"))
      .otherwise(lit(1000L) - col("conf"))
    val m = floor(-log(pTrue.cast("double") / lit(1000.0)) * lit(1e6) +
      lit(0.5)).cast("long")
    cells
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("n").cast(dec) * m.cast(dec)), lit(0L).cast(dec))
          .as("mass"))
      .select(col("n"),
        when(col("n") > 0,
            col("mass").cast("double") /
              (lit(1000000L).cast(dec) * col("n").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("logloss_nats"))
  }

  /** Kendall's tau-b rank correlation between two INTEGRAL score
    * columns — [[spearman]]'s pair-counting sibling: Spearman asks
    * "are the rank VECTORS linearly related", tau-b asks "of all
    * score pairs, how many does each signal order the same way",
    * which is the number a rank-fusion weight (q125) actually acts
    * on, and the more robust of the two under heavy quantization
    * (few distinct values, massive ties — exactly the repo's
    * quantized-score regime, which tau-b's tie terms correct for).
    *
    *   tau_b = (C − D) / √((n₀−n₁)(n₀−n₂))
    *
    * with C/D the concordant/discordant pair masses and n₁/n₂ the
    * marginal tie-pair masses. NULL scores on either side are
    * EXCLUDED (the [[scoreCensus]] contract — no rank information).
    *
    * Determinism: everything is an exact integer — C and D are
    * DECIMAL(38,0) masses off the joint census, the doubled
    * denominators D₁ = n(n−1) − Σt(t−1) are driver BigInts — and
    * `tau = 2·(C−D) / (√D₁·√D₂)` is the FIXED two-root IEEE sequence
    * (the matthewsCorrelation convention), mirrored op-for-op by the
    * oracle. A constant column (zero radicand) reports 0.0, never
    * NaN.
    *
    * Scale shape: ONE corpus scan to the joint (x, y) census
    * (map-side combined); pair counting is a non-equi join of the
    * census with ITSELF (x₁ < x₂) — grid-squared, NOT corpus-squared:
    * bounded by the quantization, not the data, and refused loudly
    * past 32768 joint cells (the Spearman n³ precedent: quantize
    * coarser or sample first — at the cap the pair frame is ~5·10⁸
    * rows, a bounded shuffle at any corpus size). Returns one row:
    * `(n, tau_b)`.
    */
  def kendallTauB(df: DataFrame, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(x.cast("long").as("x"), y.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val nCells = cells.count()
    require(nCells <= 32768,
      s"kendallTauB: $nCells joint (x, y) census cells exceed the " +
        "pair-join bound (32768) — quantize the scores coarser or " +
        "sample the corpus first")

    def tiePairs(c: String): BigInt = BigInt(cells.groupBy(col(c))
      .agg(sum(col("n")).as("t"))
      .agg(coalesce(sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec)),
        lit(0L).cast(dec)))
      .head().getDecimal(0).toBigInteger)

    val n = BigInt(cells.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0))
    val (tx, ty) = (tiePairs("x"), tiePairs("y"))
    // each unordered pair with distinct x counted exactly once; equal
    // x (and equal x AND y) pairs are ties, outside both C and D
    val a = cells.select(col("x").as("x1"), col("y").as("y1"),
      col("n").as("n1"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("n").as("n2"))
    val cd = a.join(b, col("x1") < col("x2"))
      .agg(
        coalesce(sum(when(col("y1") < col("y2"),
          col("n1").cast(dec) * col("n2").cast(dec))), lit(0L).cast(dec))
          .as("c"),
        coalesce(sum(when(col("y1") > col("y2"),
          col("n1").cast(dec) * col("n2").cast(dec))), lit(0L).cast(dec))
          .as("d"))
      .head()
    val cMinusD = BigInt(cd.getDecimal(0).toBigInteger) -
      BigInt(cd.getDecimal(1).toBigInteger)
    val d1 = n * (n - 1) - tx
    val d2 = n * (n - 1) - ty
    val tau =
      if (d1 <= 0 || d2 <= 0) 0.0
      else (2 * cMinusD).toDouble /
        (math.sqrt(d1.toDouble) * math.sqrt(d2.toDouble))
    df.sparkSession.range(1)
      .select(lit(n.toLong).as("n"), lit(tau).as("tau_b"))
  }

  /** Multiclass log-loss — [[logLoss]] for a labeler that claims a
    * FULL per-class probability vector (the q118 Naive-Bayes shape):
    * per document the loss reads the claimed probability of the GOLD
    * class, `−ln(p_gold/1000)`. `confMilliByClass` is a
    * `map<class, milli-units>`; the claims must sum to EXACTLY 1000
    * (quantize with largest-remainder upstream — a silently
    * unnormalized vector would make the "loss" meaningless) and the
    * gold class's claim must lie in [1, 999]: an absent gold class or
    * a claimed-zero gold is certainty-wrong with infinite loss,
    * refused loudly rather than clipped (the [[logLoss]] stance).
    *
    * Determinism: identical to binary — the per-cell micro-nat loss
    * is computed ONCE per distinct p_gold value (≤ 999 census cells,
    * so ≤ 999 libm calls anywhere), the corpus mass is ONE exact
    * DECIMAL(38,0) integer, the result one correctly-rounded
    * division. Empty input reports 0.0. Scale shape: one map-side-
    * combined corpus scan to the p_gold census. Returns one row:
    * `(n, logloss_nats)`.
    */
  def logLossMulti(df: DataFrame, confMilliByClass: Column,
      gold: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val total = aggregate(map_values(confMilliByClass), lit(0L),
      (acc, v) => acc + v.cast("long"))
    val p0 = element_at(confMilliByClass, gold).cast("long")
    val p = when(total === 1000L && p0.isNotNull && p0 >= 1L && p0 <= 999L,
        p0)
      .otherwise(raise_error(concat(
        lit("ScoreEval: multiclass confMilli must sum to exactly 1000 " +
          "with the gold class claimed in [1,999]; got sum="),
        coalesce(total.cast("string"), lit("null")),
        lit(", gold claim="),
        coalesce(p0.cast("string"), lit("null")))))
    val cells = df.select(p.as("p")).groupBy(col("p"))
      .agg(count(lit(1)).as("n"))
    val m = floor(-log(col("p").cast("double") / lit(1000.0)) * lit(1e6) +
      lit(0.5)).cast("long")
    cells
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("n").cast(dec) * m.cast(dec)), lit(0L).cast(dec))
          .as("mass"))
      .select(col("n"),
        when(col("n") > 0,
            col("mass").cast("double") /
              (lit(1000000L).cast(dec) * col("n").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("logloss_nats"))
  }

  /** The sum-to-1000 guard shared by the multiclass faces: a claimed
    * distribution that does not total exactly 1000 milli-units is
    * unnormalized and every derived number would be meaningless —
    * refused loudly (quantize with largest-remainder upstream, the
    * [[logLossMulti]] contract).
    */
  private def checkedDistribution(confMilliByClass: Column): Column = {
    val total = aggregate(map_values(confMilliByClass), lit(0L),
      (acc, v) => acc + v.cast("long"))
    when(total === 1000L, confMilliByClass)
      .otherwise(raise_error(concat(
        lit("ScoreEval: multiclass confMilli must sum to exactly 1000 " +
          "(largest-remainder quantize upstream), got sum="),
        coalesce(total.cast("string"), lit("null")))))
  }

  /** Per-class reliability diagram + per-class ECE — [[calibration]]
    * for a labeler that claims a FULL per-class probability vector
    * (the q118 Naive-Bayes / q188 shape): class k's claimed
    * milli-probability is graded against the one-vs-rest outcome
    * `gold == k`, per class, in equal-width confidence bins. The
    * multiclass mixture-weighting gate: a router can be well
    * calibrated on its majority class and badly over-confident on a
    * rare one — the AGGREGATE diagram hides exactly the class whose
    * weights are most wrong.
    *
    * Contract: the map sums to EXACTLY 1000 ([[checkedDistribution]]);
    * each class claim must lie in [0, 1000] (implied for non-negative
    * claims — a negative claim raises). Per class, N is the corpus
    * size (every document makes a claim about every class it lists).
    *
    * Determinism: per-(class, bin) gap `|1000·correct_b − Σconf_b|`
    * is one exact DECIMAL(38,0) integer, each class's ECE one
    * correctly-rounded division (the [[calibration]] convention,
    * per class).
    *
    * Returns one row per non-empty (cls, bin):
    * `(cls, bin, n, n_correct, conf_sum_milli, acc, conf_mean, ece)`
    * with the CLASS ece repeated on its rows, ordered by (cls, bin).
    * Scale shape: one corpus scan exploding the C-class map →
    * map-side-combined (cls, bin) census (C·bins rows); the per-class
    * ECE join is census-sized (AQE broadcasts it).
    */
  def calibrationByClass(df: DataFrame, confMilliByClass: Column,
      gold: Column, bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 1000, s"bins must be in [1,1000]: $bins")
    val dec = "decimal(38,0)"
    val base = df.select(gold.as("__gold"),
      explode(checkedDistribution(confMilliByClass))
        .as(Seq("cls", "__c")))
    val c = col("__c").cast("long")
    val conf = when(c >= 0L && c <= 1000L, c)
      .otherwise(raise_error(concat(
        lit("ScoreEval: per-class confMilli must be in [0,1000], got "),
        coalesce(c.cast("string"), lit("null")))))
    val bin = least(expr(s"(__conf * $bins) div 1000"), lit(bins - 1L))
    val cells = base.select(col("cls"), conf.as("__conf"),
        when(col("__gold") === col("cls"), lit(1L)).otherwise(lit(0L))
          .as("__ok"))
      .select(col("cls"), bin.as("bin"), col("__conf"), col("__ok"))
      .groupBy(col("cls"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__ok")).as("n_correct"),
        sum(col("__conf")).as("conf_sum_milli"))
      .localCheckpoint() // feeds both the per-class ECE and the rows
    val eces = cells.groupBy(col("cls"))
      .agg(sum(col("n")).cast(dec).as("nn"),
        coalesce(sum(abs(lit(1000L).cast(dec) * col("n_correct").cast(dec) -
          col("conf_sum_milli").cast(dec))), lit(0L).cast(dec)).as("mass"))
      .select(col("cls"),
        when(col("nn") > 0,
            col("mass").cast("double") /
              (lit(1000L).cast(dec) * col("nn")).cast("double"))
          .otherwise(lit(0.0)).as("ece"))
    cells
      .select(col("cls"), col("bin"), col("n"), col("n_correct"),
        col("conf_sum_milli"),
        (col("n_correct").cast("double") / col("n").cast("double")).as("acc"),
        (col("conf_sum_milli").cast("double") /
          (lit(1000L) * col("n")).cast("double")).as("conf_mean"))
      .join(broadcast(eces), Seq("cls"))
      .orderBy("cls", "bin")
  }

  /** Per-class average precision — [[averagePrecision]] for the full
    * per-class probability vector: class k's claims are the score,
    * `gold == k` the one-vs-rest label, AP per class. The per-class
    * companion of [[calibrationByClass]] and the number that exposes
    * a router whose AGGREGATE ranking looks fine while a rare class's
    * precision-recall curve has collapsed (rare-class PR is exactly
    * where ROC-style numbers stay misleadingly high).
    *
    * Determinism: the [[averagePrecision]] discipline per class —
    * per-threshold precision rounded ONCE to exact integer
    * micro-units, AP numerator one DECIMAL(38,0) mass, one division
    * per class.
    *
    * Scale shape: one corpus scan exploding the C-class map →
    * map-side-combined (cls, s) census. The cumulative window is
    * partitioned BY CLASS over that census — census-sized input
    * (≤ C·1001 rows by the milli-unit quantization), so the
    * single-partition-window trap (corpus-sized frames) does not
    * apply; no per-class partition can exceed 1001 rows.
    *
    * Returns one row per class: `(cls, n_pos, n_neg, ap)`, ordered
    * by cls.
    */
  def averagePrecisionByClass(df: DataFrame, confMilliByClass: Column,
      gold: Column): DataFrame =
    averagePrecisionByClassFromCells(
      classScoreCensus(df, confMilliByClass, gold))

  /** The per-class score census `(cls, s, pos, neg)` behind the
    * multiclass battery's ranking faces — one corpus scan exploding
    * the C-class map (sum-to-1000 checked, each claim in [0,1000]) to
    * a map-side-combined census, ≤ C·1001 rows by the milli-unit
    * quantization. Package-private so the monitor's classes leg can
    * fold per-batch censuses into durable state (pos/neg counts are
    * additive, so drain == batch).
    */
  private[graft] def classScoreCensus(df: DataFrame,
      confMilliByClass: Column, gold: Column): DataFrame = {
    val base = df.select(gold.as("__gold"),
      explode(checkedDistribution(confMilliByClass))
        .as(Seq("cls", "__c")))
    val c = col("__c").cast("long")
    val conf = when(c >= 0L && c <= 1000L, c)
      .otherwise(raise_error(concat(
        lit("ScoreEval: per-class confMilli must be in [0,1000], got "),
        coalesce(c.cast("string"), lit("null")))))
    base.select(col("cls"), conf.as("s"),
        when(col("__gold") === col("cls"), lit(1L)).otherwise(lit(0L))
          .as("y"))
      .groupBy(col("cls"), col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
  }

  /** [[averagePrecisionByClass]] over a pre-built `(cls, s, pos, neg)`
    * census — the monitor's durable-state face; same masses, one code
    * path. The census feeds BOTH the cumulative window and the
    * per-class globals, so it is localCheckpointed once here (the
    * calibrationByClass / ksMatrixFromCells multi-consumer
    * convention) instead of running the upstream scan twice.
    */
  def averagePrecisionByClassFromCells(censusIn: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val census = censusIn.localCheckpoint() // feeds cum AND globals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy("s")
    val cum = census
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("cum_neg", sum(col("neg")).over(w))
    val globals = census.groupBy(col("cls"))
      .agg(coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"))
    cum.join(broadcast(globals), Seq("cls"))
      .withColumn("p_ge", col("n_pos") - (col("cum_pos") - col("pos")))
      .withColumn("n_ge", col("p_ge") +
        (col("n_neg") - (col("cum_neg") - col("neg"))))
      .withColumn("prec_micro", expr(
        "(CAST(2000000 AS DECIMAL(38,0)) * CAST(p_ge AS DECIMAL(38,0)) +" +
          " CAST(n_ge AS DECIMAL(38,0))) div" +
          " (CAST(2 AS DECIMAL(38,0)) * CAST(n_ge AS DECIMAL(38,0)))"))
      .groupBy(col("cls"))
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        coalesce(sum(col("pos").cast(dec) * col("prec_micro").cast(dec)),
          lit(0L).cast(dec)).as("mass"))
      .select(col("cls"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
            col("mass").cast("double") /
              (lit(1000000L).cast(dec) * col("n_pos").cast(dec))
                .cast("double"))
          .otherwise(lit(0.0)).as("ap"))
      .orderBy("cls")
  }

  /** Per-class ROC-AUC — [[rocAuc]] for the full per-class
    * probability vector, completing the multiclass battery
    * (logLossMulti / calibrationByClass / averagePrecisionByClass):
    * class k's claims rank the one-vs-rest outcome `gold == k`, exact
    * Mann–Whitney with midrank ties per class. The macro view a
    * router audit reads NEXT TO the per-class AP: AUC says "does the
    * claim rank this class's documents above the rest at all", AP
    * says what that ranking is worth under the class's imbalance.
    *
    * Determinism and scale shape: the [[rocAucFromCensus]] mass per
    * class — doubled pair mass one exact DECIMAL(38,0) integer, one
    * correctly-rounded division per class; one corpus scan exploding
    * the C-class map to a map-side-combined (cls, s) census,
    * cumulatives in a PARTITION BY cls window over that census
    * (≤ C·1001 rows by the milli-unit quantization — census-sized,
    * so the single-partition-window trap does not apply). A class
    * with a single outcome (no pairs to rank) reports 0.0.
    *
    * Returns one row per class: `(cls, n_pos, n_neg, auc)`, ordered
    * by cls.
    */
  def rocAucByClass(df: DataFrame, confMilliByClass: Column,
      gold: Column): DataFrame =
    rocAucByClassFromCells(classScoreCensus(df, confMilliByClass, gold))

  /** [[rocAucByClass]] over a pre-built `(cls, s, pos, neg)` census —
    * the monitor's durable-state face; same per-class Mann–Whitney
    * mass, one code path. Single-consumer (the census feeds only the
    * cumulative-then-aggregate chain), so no checkpoint.
    */
  def rocAucByClassFromCells(census: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy("s")
    census
      .withColumn("cum_neg", sum(col("neg")).over(w))
      .groupBy(col("cls"))
      .agg(
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"),
        coalesce(sum(col("pos").cast(dec) *
            (lit(2L) * (col("cum_neg") - col("neg")) + col("neg")).cast(dec)),
          lit(0L).cast(dec)).as("m2"))
      .select(col("cls"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
            col("m2").cast("double") /
              (lit(2L).cast(dec) * col("n_pos").cast(dec) *
                col("n_neg").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("auc"))
      .orderBy("cls")
  }

  /** Per-class operating-point table — [[rocCurve]] for the full
    * per-class probability vector: one row per (class, observed
    * threshold) grading the rule "route to class k when its claim
    * ≥ thr" one-vs-rest. The table a ROUTER's cutoffs are picked
    * from, read beside the per-class single numbers ([[rocAucByClass]]
    * says the ranking exists, [[averagePrecisionByClass]] what it is
    * worth under imbalance — this names the threshold that cashes it
    * in, per class).
    *
    * Same determinism as [[rocCurve]] per class: confusion counts are
    * exact integers off the census cumulatives; each rate is one
    * correctly-rounded division; `prec` never divides by zero (an
    * observed threshold predicts at least its own rows positive).
    *
    * Scale shape: one corpus scan to the (cls, s) census
    * ([[classScoreCensus]]), cumulatives in a PARTITION BY cls window
    * over that census (≤ C·1001 rows — census-sized, the
    * single-partition-window trap does not apply), per-class globals
    * broadcast back. Census-sized output. Returns one row per
    * (cls, thr): `(cls, thr, tp, fp, fn, tn, tpr, fpr, prec, rec,
    * f1)`, ordered by (cls, thr).
    */
  def operatingPointsByClass(df: DataFrame, confMilliByClass: Column,
      gold: Column): DataFrame =
    operatingPointsByClassFromCells(
      classScoreCensus(df, confMilliByClass, gold))

  /** [[operatingPointsByClass]] over a pre-built `(cls, s, pos, neg)`
    * census — the monitor's durable-state face; same counts, one code
    * path. The census feeds both the cumulative window and the
    * per-class globals, so it is localCheckpointed once here.
    */
  def operatingPointsByClassFromCells(censusIn: DataFrame): DataFrame = {
    val census = censusIn.localCheckpoint() // feeds cum AND globals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy("s")
    val cum = census
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("cum_neg", sum(col("neg")).over(w))
    val globals = census.groupBy(col("cls"))
      .agg(coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"))
    cum.join(broadcast(globals), Seq("cls"))
      .select(col("cls"), col("s").as("thr"),
        (col("n_pos") - (col("cum_pos") - col("pos"))).as("tp"),
        (col("n_neg") - (col("cum_neg") - col("neg"))).as("fp"),
        (col("cum_pos") - col("pos")).as("fn"),
        (col("cum_neg") - col("neg")).as("tn"),
        col("n_pos"), col("n_neg"))
      .select(col("cls"), col("thr"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        when(col("n_pos") > 0,
            col("tp").cast("double") / col("n_pos").cast("double"))
          .otherwise(lit(0.0)).as("tpr"),
        when(col("n_neg") > 0,
            col("fp").cast("double") / col("n_neg").cast("double"))
          .otherwise(lit(0.0)).as("fpr"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("prec"),
        when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("rec"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            (lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("f1"))
      .orderBy("cls", "thr")
  }

  /** Largest-remainder quantization of a probability map to integer
    * milli-units summing to EXACTLY 1000 — the documented upstream
    * step of every multiclass face's sum-to-1000 contract
    * ([[checkedDistribution]]), provided here so a CLI or pipeline
    * holding raw double probabilities has one blessed way in.
    *
    * Per row: claims are normalized by their own sum (a vector that
    * sums to 0.97 is still a shape claim), floored to milli-units,
    * and the leftover `1000 − Σfloor` milli-units go to the classes
    * with the largest remainders — ties broken toward the
    * lexicographically SMALLEST class key (deterministic; the
    * ksFromCensus smallest-s tie convention). Refuse-don't-clip: a
    * negative, null, or NaN claim raises, as does a non-positive
    * total — a quantizer that silently repairs a broken distribution
    * would hide exactly the router bug the battery exists to catch.
    *
    * Pure per-row expression (map_entries / transform / array_sort —
    * codegen-friendly, no UDF, no shuffle). Returns a
    * `map<string,long>` column.
    */
  def quantizeMilli(probs: Column): Column = {
    val checked = transform(map_entries(probs), e =>
      when(e.getField("value").isNotNull && !isnan(e.getField("value")) &&
          e.getField("value") >= 0.0, e)
        .otherwise(raise_error(concat(
          lit("ScoreEval.quantizeMilli: claims must be non-negative " +
            "and non-null, got "),
          coalesce(e.getField("value").cast("string"), lit("null")),
          lit(" for class "), e.getField("key")))))
    val total = aggregate(checked, lit(0.0),
      (acc, e) => acc + e.getField("value").cast("double"))
    val totalChecked = when(total > 0.0, total)
      .otherwise(raise_error(concat(
        lit("ScoreEval.quantizeMilli: claim total must be positive, got "),
        total.cast("string"))))
    // (key, floor, remainder) per class off the normalized claim
    val scaled = transform(checked, e => struct(
      e.getField("key").as("key"),
      floor(e.getField("value").cast("double") * lit(1000.0) /
        totalChecked).cast("long").as("fl"),
      (e.getField("value").cast("double") * lit(1000.0) / totalChecked -
        floor(e.getField("value").cast("double") * lit(1000.0) /
          totalChecked)).as("rem")))
    val deficit = lit(1000L) -
      aggregate(scaled, lit(0L), (acc, s) => acc + s.getField("fl"))
    // largest remainder first; ties toward the smallest key
    val ranked = array_sort(scaled, (a, b) =>
      when(a.getField("rem") > b.getField("rem"), lit(-1))
        .when(a.getField("rem") < b.getField("rem"), lit(1))
        .when(a.getField("key") < b.getField("key"), lit(-1))
        .when(a.getField("key") > b.getField("key"), lit(1))
        .otherwise(lit(0)))
    // deficit ∈ [0, C] in exact arithmetic; an adversarial float
    // total can floor-overshoot to −1, in which case the
    // smallest-remainder classes (ranked tail) give the unit back
    val granted = transform(ranked, (s, i) => struct(
      s.getField("key").as("key"),
      (s.getField("fl") +
        when(i < deficit, lit(1L)).otherwise(lit(0L)) -
        when(i >= size(ranked) + deficit, lit(1L)).otherwise(lit(0L)))
        .as("milli")))
    map_from_entries(array_sort(granted, (a, b) =>
      when(a.getField("key") < b.getField("key"), lit(-1))
        .when(a.getField("key") > b.getField("key"), lit(1))
        .otherwise(lit(0))))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the score
    * distributions of two populations — the sup-norm CDF gap
    * `D = max_s |F_a(s) − F_b(s)|`: the distribution-DRIFT view of a
    * score that [[rocAuc]] cannot give (AUC asks "does the score
    * separate the classes"; KS asks "did the score's SHAPE move
    * between two slices" — new crawl vs old, one source vs the rest,
    * this week vs last). Complements q172's token-level JSD with a
    * score-level, binning-free answer.
    *
    * `group` must be 0/1 (population a / population b — anything
    * else raises, the [[binary]] guard). Determinism: over the
    * merged score census the gap at s is
    *
    *   mass(s) = |cumA(s)·n_b − cumB(s)·n_a|
    *
    * — ONE exact DECIMAL(38,0) integer per census row (common
    * denominator n_a·n_b, so the sup is an integer max, no float
    * compare) — and `d = max_mass / (n_a·n_b)` ONE correctly-rounded
    * IEEE division. `d_at` is the score value attaining the sup
    * (ties broken toward the SMALLEST s — deterministic); a
    * single-population input reports d = 0.0 with d_at still the
    * deterministic argmax (all masses zero → smallest s), and an
    * empty input reports (0, 0, 0.0, null).
    *
    * Scale shape: ONE map-side-combined corpus scan to the score
    * census, census cumulatives via [[PrefixSum.withRunningTotal]]
    * (no single-partition window at any score cardinality), the sup
    * one census-sized aggregate. Returns one row:
    * `(n_a, n_b, d, d_at)`.
    */
  def ksTest(df: DataFrame, score: Column, group: Column): DataFrame =
    ksFromCensus(ksCensus(df, score, group))

  /** The two-population score census `(s, a, b)` behind [[ksTest]] —
    * exposed package-private so the streaming drift pump can fold
    * per-batch censuses into durable state (counts are additive, so
    * drain == batch). NULL scores are EXCLUDED, the [[scoreCensus]]
    * contract: a null score carries no CDF position, and a null
    * census row would put the cumulative at the mercy of the
    * engine's null sort order (Spark NULLS FIRST vs SQL NULLS LAST).
    * A null GROUP still raises — population membership is never a
    * missing measurement.
    */
  private[graft] def ksCensus(df: DataFrame, score: Column,
      group: Column): DataFrame = {
    val g = binary(group, "group")
    df.select(score.cast("long").as("s"), g.as("g"))
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(lit(1L) - col("g")).as("a"), sum(col("g")).as("b"))
  }

  /** [[ksTest]] over a pre-built `(s, a, b)` census — the drift
    * monitor leg's durable-state face. Same integer sup, same single
    * division, one code path; both cumulatives ride ONE two-phase
    * prefix pass (this runs on every `--pumps=drift` drain).
    */
  def ksFromCensus(census: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = PrefixSum.withRunningTotals(census, Seq(col("s")),
      Seq(col("a") -> "cum_a", col("b") -> "cum_b"))
    val globals = cum.agg(
      coalesce(sum(col("a")), lit(0L)).as("n_a"),
      coalesce(sum(col("b")), lit(0L)).as("n_b"))
    cum.crossJoin(broadcast(globals))
      .select(col("n_a"), col("n_b"),
        abs(col("cum_a").cast(dec) * col("n_b").cast(dec) -
          col("cum_b").cast(dec) * col("n_a").cast(dec)).as("mass"),
        col("s"))
      // integer max of (mass, −s): max mass first, then smallest s
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(struct(col("mass"), (-col("s")).as("neg_s"))).as("best"))
      .select(coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
            col("best.mass").cast("double") /
              (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double"))
          .otherwise(lit(0.0)).as("d"),
        (-col("best.neg_s")).as("d_at"))
  }

  /** The per-group score census `(grp, s, c)` behind [[ksMatrix]] —
    * package-private so the monitor's drift-matrix leg can fold
    * per-batch censuses into durable state (counts are additive, so
    * drain == batch). NULL scores are EXCLUDED ([[scoreCensus]]
    * contract); a NULL group raises — population membership is never
    * a missing measurement.
    */
  private[graft] def groupScoreCensus(df: DataFrame, score: Column,
      group: Column): DataFrame = {
    val g = when(group.isNotNull, group)
      .otherwise(raise_error(
        lit("ScoreEval: group must not be null — population " +
          "membership is never a missing measurement")))
    df.select(g.as("grp"), score.cast("long").as("s"))
      .filter(col("s").isNotNull)
      .groupBy(col("grp"), col("s")).agg(count(lit(1)).as("c"))
  }

  /** Every-source-vs-rest KS drift matrix: where [[ksTest]] grades
    * ONE nominated slice against the rest (`--drift-report`'s
    * two-population census), this grades EVERY source against the
    * rest of the corpus from ONE (group, score) census — the monitor
    * stance: a drift gauge should not need to be told in advance
    * which source will drift.
    *
    * Per group g: `D_g = max_s |F_g(s) − F_rest(s)|` with F_rest the
    * CDF of everything NOT in g. Determinism: on the common
    * denominator `n_g·(N − n_g)` the gap at s is the exact
    * DECIMAL(38,0) integer
    *
    *   mass_g(s) = |cumG(s)·(N − n_g) − (cumT(s) − cumG(s))·n_g|
    *
    * so the sup is an integer max (ties toward the smallest s, the
    * [[ksFromCensus]] convention) and `d` ONE correctly-rounded
    * division per group. A single-group corpus reports d = 0.0 with
    * n_rest = 0.
    *
    * Scale shape: ONE corpus scan to the (grp, s) census; the sup's
    * jump points are the union of ALL groups' scores, so the census
    * expands onto the full group×score grid — grid-sized, NOT
    * corpus-sized, bounded by quantization × source count and
    * REFUSED loudly past 2^22 cells (the kendallTauB precedent:
    * quantize coarser or bucket sources first). Cumulatives ride a
    * window partitioned by group over the grid — grid-sized input,
    * so the single-partition-window trap (corpus-sized frames) does
    * not apply. Returns one row per group:
    * `(grp, n_g, n_rest, d, d_at)`, ordered by grp.
    */
  def ksMatrix(df: DataFrame, score: Column, group: Column): DataFrame =
    ksMatrixFromCells(groupScoreCensus(df, score, group))

  /** [[ksMatrix]] over a pre-built `(grp, s, c)` census — the face
    * the monitor's drift-matrix leg feeds from durable state (per-
    * group score counts are additive and commutative, so the drained
    * matrix equals the batch scan's). Same masses, same integer sup,
    * one code path.
    */
  def ksMatrixFromCells(census: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = census.localCheckpoint() // feeds grid, totals, and guard
    val grps = cells.groupBy(col("grp")).agg(sum(col("c")).as("n_g"))
    val tots = cells.groupBy(col("s")).agg(sum(col("c")).as("t"))
    // ONE driver action covers the guard's two cardinalities and the
    // corpus total (this runs on every monitor-drain report — three
    // separate count()/head() actions were three jobs over the same
    // checkpointed census)
    val hdr = cells.agg(
      countDistinct(col("grp")).as("n_grps"),
      countDistinct(col("s")).as("n_scores"),
      coalesce(sum(col("c")), lit(0L)).as("n")).head()
    val (nGrps, nScores, n) =
      (hdr.getLong(0), hdr.getLong(1), hdr.getLong(2))
    require(nGrps * nScores <= (1L << 22),
      s"ksMatrix: $nGrps groups x $nScores score values exceed the " +
        s"grid bound (${1L << 22}) — quantize the score coarser or " +
        "bucket the sources first")
    // full grid: a group missing a score still steps there (the sup
    // ranges over every census jump point)
    val grid = tots.crossJoin(broadcast(grps))
      .join(cells, Seq("grp", "s"), "left")
      .na.fill(0L, Seq("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("s")
    grid
      .withColumn("cum_g", sum(col("c")).over(w))
      .withColumn("cum_t", sum(col("t")).over(w))
      .withColumn("mass",
        abs(col("cum_g").cast(dec) * (lit(n) - col("n_g")).cast(dec) -
          (col("cum_t") - col("cum_g")).cast(dec) * col("n_g").cast(dec)))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_g"),
        max(struct(col("mass"), (-col("s")).as("neg_s"))).as("best"))
      .select(col("grp"), col("n_g"),
        (lit(n) - col("n_g")).as("n_rest"),
        when(col("n_g") > 0 && lit(n) - col("n_g") > 0,
            col("best.mass").cast("double") /
              (col("n_g").cast(dec) * (lit(n) - col("n_g")).cast(dec))
                .cast("double"))
          .otherwise(lit(0.0)).as("d"),
        (-col("best.neg_s")).as("d_at"))
      .orderBy("grp")
  }
}
