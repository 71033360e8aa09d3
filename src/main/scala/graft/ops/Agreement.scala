package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classifier-evaluation report: per-class confusion-derived metrics
  * plus chance-corrected global agreement (Cohen's kappa).
  *
  * The pipeline grows heuristic labelers (language ID, quality
  * classifiers, NB routing — q21/q118/q127); before one of them
  * gates a 100 TB curation run, its agreement with gold labels (or
  * with another labeler) needs a number that survives class
  * imbalance — raw accuracy does not (a 95%-English corpus gives any
  * constant-'en' labeler 95% accuracy; kappa gives it 0).
  *
  * Determinism: every count is an exact integer; each metric is ONE
  * IEEE-correctly-rounded double division of exact integers (the
  * q149 retrievalEval convention), so results hash-match any engine
  * computing the same formula. Kappa's cross terms use
  * DECIMAL(38,0): with row counts up to ~1e14 the products reach
  * ~1e28 — far past BIGINT, comfortably inside 38 digits.
  *
  * Scale shape: the corpus is scanned EXACTLY ONCE — one map-side-
  * combined aggregate to the (gold, pred) confusion cells, each cell
  * exploded into a gold-tagged and a pred-tagged row so a second
  * census-sized aggregate yields (cls, n_gold, n_pred, tp) with no
  * join at all; that classes-sized frame is eagerly materialized
  * (localCheckpoint — the q29 labelCentroidStats precedent for
  * census-sized shared frames) and both consumers (the global
  * kappa/accuracy aggregate and the per-class metric projection)
  * read it instead of re-deriving from the corpus.
  */
object Agreement {

  /** The (gold, pred, n) confusion-cell census — ONE map-side-combined
    * corpus scan. Exposed as the report family's interchange frame:
    * [[classifierReport]] builds it inline; the streaming agreement
    * leg ([[graft.streaming.CurationPumps.agreementLeg]])
    * persists it through BucketStateStore (counts merge additively)
    * and [[classifierReportFromCells]] grades the durable copy —
    * drain == batch because both read the same cells.
    */
  private[graft] def confusionCells(df: DataFrame, gold: Column,
      pred: Column): DataFrame =
    df.select(gold.as("gold"), pred.as("pred"))
      .groupBy(col("gold"), col("pred")).agg(count(lit(1)).as("n"))

  /** The shared census: one row per class (the union of gold and
    * predicted values) with `(cls, tp, n_gold, n_pred)` — built from
    * the corpus in a single pass, NOT materialized (classifierReport
    * checkpoints it; exposed pre-checkpoint so plan tests can pin
    * the scan shape).
    */
  private[graft] def perClassStats(df: DataFrame, gold: Column,
      pred: Column): DataFrame =
    perClassStatsFromCells(confusionCells(df, gold, pred))

  private[graft] def perClassStatsFromCells(cells: DataFrame): DataFrame =
    cells
      .select(explode(array(
        struct(col("gold").as("cls"),
          when(col("gold") === col("pred"), col("n")).otherwise(lit(0L))
            .as("tp"),
          col("n").as("ng"), lit(0L).as("np")),
        struct(col("pred").as("cls"), lit(0L).as("tp"),
          lit(0L).as("ng"), col("n").as("np")))).as("r"))
      .groupBy(col("r.cls").as("cls"))
      .agg(sum(col("r.tp")).as("tp"),
        sum(col("r.ng")).as("n_gold"),
        sum(col("r.np")).as("n_pred"))

  /** The Gorodkin R_K finisher — exact-integer numerator over the
    * two-root denominator, the FIXED IEEE sequence documented on
    * [[matthewsCorrelation]]. Shared by [[matthewsFromCells]] and
    * [[classifierReportFromCells]] so the report's `mcc` column and
    * the standalone metric are ONE code path (a zero radicand —
    * constant labeler or constant gold — reports 0.0).
    */
  private def mccExpr(n: Column, agree: Column, rc: Column, sp: Column,
      sg: Column): Column = {
    val dec = "decimal(38,0)"
    when(n.cast(dec) * n.cast(dec) - sp > lit(0L).cast(dec) &&
        n.cast(dec) * n.cast(dec) - sg > lit(0L).cast(dec),
        (n.cast(dec) * agree - rc).cast("double") /
          (sqrt((n.cast(dec) * n.cast(dec) - sp).cast("double")) *
            sqrt((n.cast(dec) * n.cast(dec) - sg).cast("double"))))
      .otherwise(lit(0.0))
  }

  /** One row per class: `(cls, tp, fp, fn, prec, rec, f1, accuracy,
    * kappa, mcc)` — accuracy, kappa, and the multiclass Matthews
    * correlation (Gorodkin R_K, via the [[matthewsFromCells]]
    * finisher — the imbalance-honest number kappa alone is not) are
    * global, repeated per row for a flat schema. Zero-denominator
    * metrics (class never predicted / never gold / constant labeler)
    * are 0.0, not null.
    */
  def classifierReport(df: DataFrame, gold: Column, pred: Column)
      : DataFrame =
    classifierReportFromCells(confusionCells(df, gold, pred))

  /** [[classifierReport]] over a pre-built `(gold, pred, n)` cell
    * census — the face the streaming agreement pump's durable state
    * feeds. Same report, same metric arithmetic, one code path.
    */
  def classifierReportFromCells(cells: DataFrame): DataFrame = {
    // classes-sized; feeds the globals aggregate AND the final
    // projection — materialized so the corpus is scanned once
    val perClass = perClassStatsFromCells(cells).localCheckpoint()

    val dec = "decimal(38,0)"
    // N = Σ n_gold, agree = Σ tp, chance cross term Σ n_gold·n_pred,
    // marginal squares Σ n_pred² / Σ n_gold² (the R_K radicands) —
    // all exact integers off the census
    val globals = perClass.agg(
        sum(col("n_gold")).cast(dec).as("nn"),
        sum(col("tp")).cast(dec).as("agree"),
        coalesce(sum(col("n_gold").cast(dec) * col("n_pred").cast(dec)),
          lit(0L).cast(dec)).as("rc"),
        coalesce(sum(col("n_pred").cast(dec) * col("n_pred").cast(dec)),
          lit(0L).cast(dec)).as("sp"),
        coalesce(sum(col("n_gold").cast(dec) * col("n_gold").cast(dec)),
          lit(0L).cast(dec)).as("sg"))
      .select(
        (col("agree").cast("double") / col("nn").cast("double"))
          .as("accuracy"),
        when(col("nn") * col("nn") - col("rc") =!= lit(0L).cast(dec),
            (col("agree") * col("nn") - col("rc")).cast("double") /
              (col("nn") * col("nn") - col("rc")).cast("double"))
          .otherwise(lit(0.0)).as("kappa"),
        mccExpr(col("nn"), col("agree"), col("rc"), col("sp"), col("sg"))
          .as("mcc"))

    perClass
      .select(col("cls"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_gold") - col("tp")).as("fn"))
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .otherwise(lit(0.0)).as("prec"),
        when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("rec"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            (lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("f1"))
      .crossJoin(broadcast(globals))
      .orderBy("cls")
  }

  /** Fleiss' kappa — chance-corrected agreement among n ≥ 2 RATERS
    * (Fleiss 1971), the multi-rater generalization of
    * [[classifierReport]]'s Cohen's kappa: where Cohen grades one
    * labeler against one gold column, this grades a PANEL — n
    * heuristic labelers / annotators per document — before their
    * majority vote gates a curation run. Input is long-format: one
    * row per RATING `(item, category)`; every item must carry exactly
    * the same number of ratings n (Fleiss' formula assumes fixed n —
    * heterogeneous counts are refused loudly, never silently
    * re-weighted).
    *
    * Returns one row per category: `(cls, n_ratings, p_cat)` plus the
    * global mean observed agreement `p_bar` and `kappa` repeated per
    * row (flat schema, like [[classifierReport]]).
    *
    * Determinism: every sum is an exact integer (DECIMAL(38,0) for
    * the squared terms; Σ n_ij² ≤ N·n² and Σ c_j² ≤ |cls|·(N·n)² both
    * fit 38 digits at any realistic N); `p_bar = (Σ n_ij² − N·n) /
    * (N·n·(n−1))` and `p_e = Σ c_j² / (N·n)²` are each ONE
    * cast-to-double-then-divide of exact integers, and
    * `kappa = (p_bar − p_e)/(1 − p_e)` is a fixed sequence of
    * correctly-rounded IEEE ops — bit-identical in any engine
    * mirroring the same order. A degenerate panel (p_e = 1: every
    * rating one category) reports kappa 0.0, not NaN.
    *
    * Scale shape: ONE corpus shuffle to the (item, category) cells
    * (map-side combined; id-and-count-sized — orders of magnitude
    * narrower than the document rows), eagerly materialized so the
    * per-item census, the per-category census, and the output
    * projection all read it without re-scanning the corpus; the
    * global scalars collapse to one driver row.
    */
  /** Krippendorff's alpha (nominal metric) — chance-corrected
    * agreement for INCOMPLETE panels, the principled answer to
    * [[fleissKappa]]'s constant-n refusal: real annotation rarely has
    * every labeler rate every document (raters rotate, heuristics
    * abstain, spot-checks sample), and Fleiss' formula simply does
    * not apply there. Alpha weighs each item by the pairwise
    * comparisons it actually carries: `alpha = 1 − D_o/D_e` with
    * `D_o = (1/n)·Σ_u (n_u² − Σ_c n_uc²)/(n_u − 1)` and
    * `D_e = (n² − Σ_c n_c²)/(n·(n−1))` (Krippendorff 2004, nominal
    * data). Single-rated items carry no pair information and are
    * DROPPED (the standard treatment); marginals count only the
    * retained items.
    *
    * Returns one row per category: `(cls, n_ratings, p_cat, alpha)`
    * with the global alpha repeated per row (flat schema, like
    * [[fleissKappa]]).
    *
    * Determinism: the only per-item division is by `n_u − 1`, and
    * with panel sizes capped at 21 raters every such divisor divides
    * `L = lcm(1..20) = 232792560` exactly — so the observed-
    * disagreement mass `Σ_u (n_u² − Σ n_uc²)·(L/(n_u−1))` is ONE
    * exact integer (DECIMAL(38,0) en route, BigInt on the driver),
    * and alpha is `1 − toDouble((n−1)·mass) / toDouble(L·(n² −
    * Σ n_c²))` — two correctly-rounded int→double conversions and
    * one division, bit-portable (the [[fleissKappa]] discipline).
    * Panels wider than 21 raters are refused loudly rather than
    * silently truncating the weight. A degenerate census (every
    * rating one category, or no multi-rated items' pairs to expect
    * disagreement in: D_e = 0) reports alpha 0.0, never NaN.
    *
    * Scale shape: ONE corpus shuffle to the (item, category) cells
    * (map-side combined, id-and-count-sized), eagerly materialized;
    * the per-item census, the per-category marginals, and the output
    * projection all read it; the global scalars collapse to one
    * driver row.
    */
  def krippendorffAlpha(ratings: DataFrame, item: Column,
      category: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val L = 232792560L // lcm(1..20): exact for every n_u - 1 <= 20
    val cells = ratings.select(item.as("item"), category.as("cls"))
      .groupBy(col("item"), col("cls")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val per = cells.groupBy(col("item"))
      .agg(sum(col("n")).as("tot"),
        sum((col("n") * col("n")).cast(dec)).as("sq"))
      .filter(col("tot") >= 2)
      .localCheckpoint()
    // L div (tot-1) is exact for every retained tot <= 21 (the
    // divisor divides L); `div` keeps it integral end to end
    val wOfTot = expr(s"${L}L div (tot - 1)").cast(dec)
    val g = per.agg(count(lit(1)).as("items"), max(col("tot")).as("tmax"),
        sum((col("tot").cast(dec) * col("tot").cast(dec) - col("sq")) *
          wOfTot).as("mass"))
      .head()
    require(g.getLong(0) > 0,
      "Krippendorff's alpha needs at least one item with >= 2 ratings " +
        "(single-rated items carry no pairwise information)")
    require(g.getLong(1) <= 21,
      s"Krippendorff's alpha: an item carries ${g.getLong(1)} ratings; " +
        "the exact-integer weight table covers panels up to 21 raters — " +
        "wider panels would silently truncate lcm(1..20)/(n_u-1)")
    val massO = BigInt(g.getDecimal(2).toBigInteger)
    // marginals over the RETAINED (multi-rated) items only
    val catTotals = cells.join(per.select(col("item")), Seq("item"),
        "left_semi")
      .groupBy(col("cls")).agg(sum(col("n")).as("c")).localCheckpoint()
    val t = catTotals.agg(sum(col("c")).as("n"),
      sum(col("c").cast(dec) * col("c").cast(dec)).as("csq")).head()
    val n = BigInt(t.getLong(0))
    val csq = BigInt(t.getDecimal(1).toBigInteger)
    val dE = n * n - csq
    val alpha =
      if (dE == 0) 0.0
      else 1.0 - ((n - 1) * massO).toDouble / (BigInt(L) * dE).toDouble
    catTotals.select(col("cls"), col("c").as("n_ratings"),
        (col("c").cast("double") / lit(n.toLong).cast("double"))
          .as("p_cat"),
        lit(alpha).as("alpha"))
      .orderBy("cls")
  }

  def fleissKappa(ratings: DataFrame, item: Column,
      category: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = ratings.select(item.as("item"), category.as("cls"))
      .groupBy(col("item"), col("cls")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val g = cells.groupBy(col("item"))
      .agg(sum(col("n")).as("tot"),
        sum((col("n") * col("n")).cast(dec)).as("sq"))
      .agg(count(lit(1)).as("items"),
        min(col("tot")).as("tmin"), max(col("tot")).as("tmax"),
        sum(col("sq")).as("sumsq"))
      .head()
    val nItems = g.getLong(0)
    require(nItems > 0, "Fleiss' kappa needs at least one rated item")
    val (tmin, tmax) = (g.getLong(1), g.getLong(2))
    require(tmin == tmax,
      s"Fleiss' kappa assumes a CONSTANT rating count per item; found " +
        s"items with $tmin and items with $tmax ratings — fix the panel " +
        "or filter to fully-rated items")
    val n = tmin
    require(n >= 2,
      s"Fleiss' kappa needs at least 2 ratings per item, got $n")
    val catTotals = cells.groupBy(col("cls"))
      .agg(sum(col("n")).as("c")).localCheckpoint()
    val csq = BigInt(catTotals
      .agg(sum(col("c").cast(dec) * col("c").cast(dec)).as("csq"))
      .head().getDecimal(0).toBigInteger)
    val a = BigInt(g.getDecimal(3).toBigInteger) - BigInt(nItems) * BigInt(n)
    val b = BigInt(nItems) * BigInt(n) * BigInt(n - 1)
    val d = (BigInt(nItems) * BigInt(n)).pow(2)
    val pBar = a.toDouble / b.toDouble
    val pE = csq.toDouble / d.toDouble
    val kappa = if (pE == 1.0) 0.0 else (pBar - pE) / (1.0 - pE)
    catTotals.select(col("cls"), col("c").as("n_ratings"),
        (col("c").cast("double") /
          lit(nItems * n).cast("double")).as("p_cat"),
        lit(pBar).as("p_bar"), lit(kappa).as("kappa"))
      .orderBy("cls")
  }

  /** Multiclass Matthews correlation coefficient (Gorodkin 2004's
    * R_K, the K-category generalization of binary MCC) — the one
    * single-number grade that stays honest under CLASS IMBALANCE:
    * accuracy and even Cohen's kappa flatter a labeler that just
    * predicts the majority class, while R_K is the correlation
    * between the gold and predicted assignments,
    *
    *   R_K = (N·Σ_k C_kk − Σ_k t_k·p_k)
    *         / (√(N² − Σ_k p_k²) · √(N² − Σ_k t_k²))
    *
    * with t/p the gold/predicted marginals. For two classes this IS
    * textbook MCC `(tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn))`
    * (unit-pinned). Reads the SAME confusion census as
    * [[classifierReport]], so the batch face and the streaming
    * agreement pump's durable cells grade through one code path.
    *
    * Determinism: numerator and both radicands are exact
    * DECIMAL(38,0) integers off the census (N² caps at 1e24 for a
    * 1e12-row corpus — inside 38 digits); the finisher is the FIXED
    * IEEE sequence `num / (sqrt(dx) · sqrt(dy))` — one division, two
    * square roots, mirrored op-for-op by the oracle. (Two roots, not
    * one √(dx·dy): the product can reach 1e48 and overflow
    * DECIMAL(38,0); the price is that a PERFECT labeler whose
    * radicands aren't exact squares reads 1.0 ± 1 ulp —
    * bit-portable, unit-pinned.) A constant labeler or constant gold
    * column (a zero radicand) reports 0.0, the standard convention,
    * never NaN.
    *
    * Scale shape: one corpus scan to the class-squared-sized cell
    * census, then class-sized aggregates. Returns one row:
    * `(n, mcc)`.
    */
  def matthewsCorrelation(df: DataFrame, gold: Column,
      pred: Column): DataFrame =
    matthewsFromCells(confusionCells(df, gold, pred))

  /** [[matthewsCorrelation]] over a pre-built `(gold, pred, n)` cell
    * census — the streaming-pump-state face. */
  def matthewsFromCells(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    perClassStatsFromCells(cells)
      .agg(coalesce(sum(col("n_gold")), lit(0L)).as("n"),
        coalesce(sum(col("tp")), lit(0L)).cast(dec).as("agree"),
        coalesce(sum(col("n_gold").cast(dec) * col("n_pred").cast(dec)),
          lit(0L).cast(dec)).as("rc"),
        coalesce(sum(col("n_pred").cast(dec) * col("n_pred").cast(dec)),
          lit(0L).cast(dec)).as("sp"),
        coalesce(sum(col("n_gold").cast(dec) * col("n_gold").cast(dec)),
          lit(0L).cast(dec)).as("sg"))
      .select(col("n"),
        mccExpr(col("n"), col("agree"), col("rc"), col("sp"), col("sg"))
          .as("mcc"))
  }
}
