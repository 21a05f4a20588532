package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Temporal
import graft.operators._

import Shared._

/** Model fits and evaluations, each replayed step for step in SQL.
  */
private[graft] object MlQueries {

  def records: Seq[Query] = Seq(
    // KS separation of the value score between PURCHASE and the rest:
    // the max CDF gap AND the score it occurs at (the natural
    // threshold) — the credit-scoring discrimination statistic next
    // to ROC AUC, on the two-sample KS machinery.
    Query("ml_ks_separation", ((s: SparkSession, d: String) =>
      MlLite.ksSeparation(t(s, d, "events"), "value",
        upper(trim(col("event_type"))) === "PURCHASE")),
      // MlLite.ksSeparation mirrored: the two-sample KS replay with the
      // PURCHASE label as the split, model-evaluation column names.
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN upper(trim(event_type)) = 'PURCHASE' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new
        |  FROM pv),
        |c AS (
        |  SELECT value,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new
        |  FROM pv),
        |d AS (
        |  SELECT value,
        |    ABS(cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE)) AS d_abs,
        |    tot_old, tot_new
        |  FROM c, tot)
        |SELECT d_abs AS ks_stat, value AS best_threshold,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pv) AS n_distinct_values,
        |  tot_old AS n_neg, tot_new AS n_pos
        |FROM d ORDER BY d_abs DESC, value LIMIT 1""".stripMargin)),

    // Cumulative gains/lift by descending value bin: how much of the
    // purchase mass the top-value slices capture vs their population
    // share — the targeting-evaluation panel next to the calibration.
    Query("ml_gains_table", ((s: SparkSession, d: String) =>
      AnalyticsPack.gainsTable(
        t(s, d, "events").filter(col("value").isNotNull),
        least(lit(19L), greatest(lit(0L), floor(col("value") / 5))),
        upper(trim(col("event_type"))) === "PURCHASE")),
      // AnalyticsPack.gainsTable mirrored: descending-bin cumulative
      // window sums, exact-integer share quotients, one lift divide.
      Sql("""WITH panel AS (
        |  SELECT LEAST(19, GREATEST(0, CAST(FLOOR(value / 5) AS BIGINT))) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN UPPER(TRIM(event_type)) = 'PURCHASE'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM panel),
        |cum AS (SELECT bin, n, n_pos,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_n,
        |    CAST(SUM(n_pos) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pos
        |  FROM panel)
        |SELECT bin, n, n_pos, cum_n, cum_pos,
        |  CAST(cum_n AS DOUBLE) / CAST(tn AS DOUBLE) AS population_share,
        |  CASE WHEN tp = 0 THEN NULL
        |       ELSE CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE) END
        |    AS captured_share,
        |  CASE WHEN tp = 0 THEN NULL
        |       ELSE (CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE))
        |            / (CAST(cum_n AS DOUBLE) / CAST(tn AS DOUBLE)) END AS lift
        |FROM cum CROSS JOIN tot""".stripMargin)),

    // Exact ROC AUC via the rank-sum identity: does event VALUE rank-
    // predict the purchase label — the standard scalar a ranking
    // model is judged by, on the distinct-score panel (never a global
    // row sort), with gini = 2·AUC − 1.
    Query("ml_auc_roc", ((s: SparkSession, d: String) =>
      MlLite.aucRoc(t(s, d, "events"), "value",
        upper(trim(col("event_type"))) === "PURCHASE")),
      // MlLite.aucRoc mirrored: distinct-score panel, midranks via
      // the running sum, DECIMAL(28,1) rank mass, the U/(n⁺·n⁻)
      // normalization in one fixed op order.
      Sql("""WITH r0 AS (
        |  SELECT value AS s, upper(trim(event_type)) = 'PURCHASE' AS pos
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT s,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn,
        |    COUNT(*) AS nt
        |  FROM r0 GROUP BY 1),
        |rk AS (SELECT *, SUM(nt) OVER (ORDER BY s) AS cum FROM p),
        |mid AS (
        |  SELECT *,
        |    CAST(cum - nt AS DOUBLE) + CAST(nt + 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM rk),
        |agg AS (
        |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(nn) AS BIGINT) AS n_neg,
        |    SUM(CAST(CAST(np AS DOUBLE) * midrank AS DECIMAL(28,1))) AS rp
        |  FROM mid),
        |a AS (
        |  SELECT n_pos, n_neg,
        |    (CAST(rp AS DOUBLE)
        |      - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)
        |      / NULLIF(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0) AS auc
        |  FROM agg)
        |SELECT n_pos, n_neg, auc, 2.0 * auc - 1.0 AS gini FROM a""".stripMargin)),

    // Exact average precision (PR-AUC) over the same score/label: the
    // imbalanced-data metric next to ROC AUC, block-wise over the
    // distinct-score panel with its prevalence floor.
    Query("ml_avg_precision", ((s: SparkSession, d: String) =>
      MlLite.averagePrecision(t(s, d, "events"), "value",
        upper(trim(col("event_type"))) === "PURCHASE")),
      // MlLite.averagePrecision mirrored: ascending cumulative panel,
      // >= -score cumulatives by subtraction, gridded block precision
      // times exact decimal block positives, one /P at the edge.
      Sql("""WITH r0 AS (
        |  SELECT value AS s, upper(trim(event_type)) = 'PURCHASE' AS pos
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT s,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        |  FROM r0 GROUP BY 1),
        |p2 AS (SELECT *, np + nn AS nt FROM p),
        |rk AS (
        |  SELECT *, SUM(np) OVER (ORDER BY s) AS pnp,
        |    SUM(nt) OVER (ORDER BY s) AS pnt
        |  FROM p2),
        |tot AS (
        |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |    CAST(SUM(nn) AS BIGINT) AS n_neg
        |  FROM p2),
        |tm AS (
        |  SELECT CAST(np AS DECIMAL(19,0)) * CAST(FLOOR(
        |      (CAST(n_pos AS DOUBLE) - CAST(pnp - np AS DOUBLE))
        |      / (CAST(n_pos + n_neg AS DOUBLE) - CAST(pnt - nt AS DOUBLE))
        |      * 1e6) / 1e6 AS DECIMAL(28,6)) AS term,
        |    n_pos, n_neg
        |  FROM rk CROSS JOIN tot)
        |SELECT MAX(n_pos) AS n_pos, MAX(n_neg) AS n_neg,
        |  CAST(SUM(term) AS DOUBLE) / NULLIF(CAST(MAX(n_pos) AS DOUBLE), 0.0) AS avg_precision,
        |  CAST(MAX(n_pos) AS DOUBLE) / NULLIF(CAST(MAX(n_pos) + MAX(n_neg) AS DOUBLE), 0.0) AS prevalence
        |FROM tm""".stripMargin)),

    // Brier + log-loss of the hour-of-day rate baseline for the same
    // label — the proper-scoring floor a real model must beat; the
    // row sums collapse onto the 24-row hour panel algebraically.
    Query("ml_brier_logloss", ((s: SparkSession, d: String) =>
      MlLite.baselineScorePanel(
        t(s, d, "events").filter(col("ts").isNotNull),
        upper(trim(col("event_type"))) === "PURCHASE",
        hour(col("ts")))),
      // MlLite.baselineScorePanel mirrored: hour panel, Laplace rate,
      // the algebraically-collapsed Brier/log-loss terms with panel
      // grid-ln, DECIMAL(28,6) partials.
      Sql("""WITH r0 AS (
        |  SELECT hour(ts) AS g,
        |    CASE WHEN upper(trim(event_type)) = 'PURCHASE' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE ts IS NOT NULL),
        |panel AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM r0 GROUP BY g),
        |pp AS (
        |  SELECT *,
        |    (CAST(pos AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + 1.0) AS p,
        |    n - pos AS neg
        |  FROM panel),
        |terms AS (
        |  SELECT *,
        |    FLOOR((CAST(pos AS DOUBLE) * (1.0 - p) * (1.0 - p)
        |      + CAST(neg AS DOUBLE) * p * p) * 1e6) / 1e6 AS bt,
        |    FLOOR((-1.0 * (CAST(pos AS DOUBLE) * (FLOOR(ln(p) * 1e6) / 1e6)
        |      + CAST(neg AS DOUBLE) * (FLOOR(ln(1.0 - p) * 1e6) / 1e6))) * 1e6) / 1e6 AS lt
        |  FROM pp)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS k_groups,
        |  CAST(SUM(pos) AS DOUBLE) / NULLIF(CAST(SUM(n) AS DOUBLE), 0.0) AS base_rate,
        |  CAST(SUM(CAST(bt AS DECIMAL(28,6))) AS DOUBLE)
        |    / NULLIF(CAST(SUM(n) AS DOUBLE), 0.0) AS brier,
        |  CAST(SUM(CAST(lt AS DECIMAL(28,6))) AS DOUBLE)
        |    / NULLIF(CAST(SUM(n) AS DOUBLE), 0.0) AS log_loss
        |FROM terms""".stripMargin)),

    // Binned calibration audit (ECE / MCE) of the same hour-rate
    // baseline — Brier says HOW wrong the probabilities are, ECE says
    // WHERE per confidence bin. One partial-agg scan to the 24-hour
    // panel, panel math after.
    Query("ml_calibration_ece", ((s: SparkSession, d: String) =>
      MlLite.calibrationEce(
        t(s, d, "events").filter(col("ts").isNotNull),
        upper(trim(col("event_type"))) === "PURCHASE",
        hour(col("ts")), nBins = 10)),
      // MlLite.calibrationEce mirrored: hour panel → Laplace rate →
      // equal-width bins; per-bin confidence mass as exact-decimal ×
      // gridded-rate products, the gap re-gridded before the ece sum.
      Sql("""WITH g AS (
        |  SELECT hour(ts) AS hr, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN upper(trim(event_type)) = 'PURCHASE'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |gp AS (
        |  SELECT *,
        |    (CAST(pos AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + 1.0) AS p
        |  FROM g),
        |gb AS (
        |  SELECT *, LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bin FROM gp),
        |b AS (
        |  SELECT bin, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    COUNT(*) AS n_groups, CAST(SUM(pos) AS BIGINT) AS bpos,
        |    SUM(CAST(n AS DECIMAL(19,0))
        |      * CAST(FLOOR(p * 1e6) / 1e6 AS DECIMAL(28,6))) AS conf_mass
        |  FROM gb GROUP BY 1),
        |b2 AS (
        |  SELECT bin, n_rows, n_groups,
        |    CAST(conf_mass AS DOUBLE) / NULLIF(CAST(n_rows AS DOUBLE), 0.0) AS avg_conf,
        |    CAST(bpos AS DOUBLE) / NULLIF(CAST(n_rows AS DOUBLE), 0.0) AS accuracy
        |  FROM b),
        |b3 AS (SELECT *, ABS(accuracy - avg_conf) AS abs_gap FROM b2),
        |s AS (
        |  SELECT
        |    CAST(SUM(CAST(n_rows AS DECIMAL(19,0))
        |        * CAST(FLOOR(abs_gap * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
        |      / NULLIF(CAST(SUM(n_rows) AS DOUBLE), 0.0) AS ece,
        |    MAX(FLOOR(abs_gap * 1e6) / 1e6) AS mce
        |  FROM b3)
        |SELECT bin, n_rows, n_groups, avg_conf, accuracy, abs_gap, ece, mce
        |FROM b3 CROSS JOIN s""".stripMargin)),

    // McNemar paired test: the peak-hour rule vs the high-value rule
    // as PURCHASE classifiers on the SAME rows — only the discordant
    // cells carry signal; the unpaired z over-counts shared rows.
    Query("ml_mcnemar", ((s: SparkSession, d: String) =>
      MlLite.mcnemar(t(s, d, "events"),
        upper(trim(col("event_type"))) === "PURCHASE",
        hour(col("ts")).isin(7, 8, 17, 18),
        col("value") > lit(55.0))),
      // MlLite.mcnemar mirrored: one scan to the 2×2 paired cells,
      // continuity-corrected chi2, the Horner-erfc 1-dof tail gridded.
      Sql("""WITH r AS (
        |  SELECT upper(trim(event_type)) = 'PURCHASE' AS y,
        |    hour(ts) IN (7, 8, 17, 18) AS pa,
        |    value > 55.0 AS pb
        |  FROM events),
        |f AS (SELECT * FROM r
        |      WHERE y IS NOT NULL AND pa IS NOT NULL AND pb IS NOT NULL),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_correct,
        |    CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
        |    CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
        |    CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong
        |  FROM f),
        |c AS (
        |  SELECT *,
        |    CASE WHEN n_a_only + n_b_only = 0 THEN NULL
        |         ELSE GREATEST(ABS(CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE)) - 1.0, 0.0)
        |            * GREATEST(ABS(CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE)) - 1.0, 0.0)
        |            / (CAST(n_a_only AS DOUBLE) + CAST(n_b_only AS DOUBLE))
        |    END AS chi2_cc
        |  FROM g),
        |px AS (SELECT *, SQRT(chi2_cc / 2.0) AS x FROM c),
        |pt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM px)
        |SELECT n, n_both_correct, n_a_only, n_b_only, n_both_wrong,
        |  (CAST(n_both_correct AS DOUBLE) + CAST(n_a_only AS DOUBLE))
        |    / NULLIF(CAST(n AS DOUBLE), 0.0) AS acc_a,
        |  (CAST(n_both_correct AS DOUBLE) + CAST(n_b_only AS DOUBLE))
        |    / NULLIF(CAST(n AS DOUBLE), 0.0) AS acc_b,
        |  chi2_cc,
        |  FLOOR(((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        |    - 0.284496736) * t + 0.254829592) * t * EXP(-(x * x)) * 1e6) / 1e6 AS p_value
        |FROM pt""".stripMargin)),

    // Cohen's kappa between the DECLARED lang tag and the n-gram
    // classifier's prediction — the chance-corrected one-scalar
    // label-QC readout next to lang_confusion's full matrix.
    Query("ml_cohens_kappa", ((s: SparkSession, d: String) =>
      MlLite.cohensKappa(textLangId(s, d), "lang", "predicted_lang")),
      // MlLite.cohensKappa over the same declared-vs-predicted pair:
      // k² confusion panel, marginal products gridded to 1e-12 before
      // the DECIMAL(28,12) expected-agreement sum, one mirrored ratio.
      Sql(s"""WITH p AS ($langIdSql),
         |c AS (
         |  SELECT lang AS a, predicted_lang AS b, COUNT(*) AS n
         |  FROM p WHERE lang IS NOT NULL AND predicted_lang IS NOT NULL
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_items,
         |    COALESCE(CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT), 0) AS n_agree
         |  FROM c),
         |ma AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS ra FROM c GROUP BY 1),
         |mb AS (SELECT b AS cls, CAST(SUM(n) AS BIGINT) AS cb FROM c GROUP BY 1),
         |nc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes
         |  FROM (SELECT cls FROM ma UNION SELECT cls FROM mb)),
         |pe AS (
         |  SELECT COALESCE(CAST(SUM(CAST(FLOOR(
         |      (CAST(ra AS DOUBLE) / CAST(n_items AS DOUBLE))
         |      * (CAST(cb AS DOUBLE) / CAST(n_items AS DOUBLE)) * 1e12) / 1e12
         |    AS DECIMAL(28,12))) AS DECIMAL(28,12)), 0) AS pev
         |  FROM ma JOIN mb USING (cls) CROSS JOIN tot)
         |SELECT n_items, n_classes, n_agree,
         |  CAST(n_agree AS DOUBLE) / NULLIF(CAST(n_items AS DOUBLE), 0.0) AS p_observed,
         |  CAST(pev AS DOUBLE) AS p_expected,
         |  (CAST(n_agree AS DOUBLE) / NULLIF(CAST(n_items AS DOUBLE), 0.0)
         |    - CAST(pev AS DOUBLE))
         |    / NULLIF(1.0 - CAST(pev AS DOUBLE), 0.0) AS kappa
         |FROM tot CROSS JOIN nc CROSS JOIN pe""".stripMargin)),

    // Isotonic calibration of the purchase rate against the value
    // bin: the PAV fit through the exact minimax identity — pure
    // comparisons over exact-integer quotients, bit-replayable.
    Query("ml_isotonic_calibration", ((s: SparkSession, d: String) =>
      MlLite.isotonicCalibration(
        t(s, d, "events").filter(col("value").isNotNull),
        least(lit(19L), greatest(lit(0L), floor(col("value") / 5))),
        upper(trim(col("event_type"))) === "PURCHASE")),

      // Isotonic fit replay: the minimax identity over the binned
      // panel — exact-integer cumulative quotients, MIN within the
      // (j ≤ i ≤ k) triangle, MAX across j; comparisons only.
      Sql("""WITH panel AS (
        |  SELECT LEAST(19, GREATEST(0, CAST(FLOOR(value / 5) AS BIGINT))) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN UPPER(TRIM(event_type)) = 'PURCHASE'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cum AS (SELECT bin, n, n_pos,
        |    SUM(n) OVER (ORDER BY bin) AS cn,
        |    SUM(n_pos) OVER (ORDER BY bin) AS cp
        |  FROM panel),
        |pairs AS (SELECT j.bin AS bj, k.bin AS bk_,
        |    CAST(k.cp - (j.cp - j.n_pos) AS DOUBLE)
        |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS rate
        |  FROM cum j JOIN cum k ON k.bin >= j.bin),
        |inner_min AS (SELECT c.bin AS bin, p.bj, MIN(p.rate) AS mn
        |  FROM cum c JOIN pairs p ON p.bj <= c.bin AND p.bk_ >= c.bin
        |  GROUP BY 1, 2),
        |fit AS (SELECT bin, MAX(mn) AS rate_isotonic FROM inner_min GROUP BY 1)
        |SELECT c.bin, c.n, c.n_pos,
        |  CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE) AS rate_raw,
        |  f.rate_isotonic
        |FROM cum c JOIN fit f USING (bin)""".stripMargin)),

    // Multinomial naive-Bayes language classifier, trained and scored
    // in one shot over the corpus: add-one smoothed per-class token
    // log-likelihoods (1e-6-grid ln summed as DECIMAL partials),
    // argmax per doc with the runner-up margin.
    Query("ml_naive_bayes", ((s: SparkSession, d: String) =>
      MlLite.naiveBayes(t(s, d, "documents"), "doc_id", "text", "lang")),
      // MlLite.naiveBayes mirrored term for term: the Σ tf·ln(cnt+1)
      // inner join (unseen pairs contribute ln(1)=0 by construction),
      // 1e-6-grid ln terms summed as DECIMAL(28,6), argmax by
      // (score DESC, label).
      Sql(nbOracleSql)),

    // Two-regressor OLS with intercept (value ~ hour + iso-dow) solved
    // closed-form from exact decimal moments — the multi-feature
    // sibling of ana_trend_slope's single-regressor fit.
    Query("ml_ols_value", ((s: SparkSession, d: String) =>
      MlLite.olsTwoFeature(
        t(s, d, "events").filter(col("ts").isNotNull)
          .select(col("value"),
            hour(col("ts")).cast("double").as("hr"),
            Temporal.isoDow(col("ts")).cast("double").as("iso_dow")),
        "value", "hr", "iso_dow")),
      // MlLite.olsTwoFeature mirrored: exact DECIMAL(28,6) moments (the
      // regressand floor-quantized first), then the centered 2x2 Cramer
      // solve in double arithmetic with the operation tree copied
      // parenthesis for parenthesis.
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(value * 1e6) / 1e6 AS yq,
        |    CAST(hour(ts) AS DOUBLE) AS x1,
        |    CAST(isodow(ts) AS DOUBLE) AS x2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(yq AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x1,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2x2,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x2,
        |    CAST(SUM(CAST(x1 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx1y,
        |    CAST(SUM(CAST(x2 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx2y,
        |    CAST(SUM(CAST(FLOOR(yq * yq * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM r0),
        |c1s AS (
        |  SELECT *,
        |    sx1x1 - sx1 * sx1 / NULLIF(n, 0.0) AS a11,
        |    sx2x2 - sx2 * sx2 / NULLIF(n, 0.0) AS a22,
        |    sx1x2 - sx1 * sx2 / NULLIF(n, 0.0) AS a12,
        |    sx1y - sx1 * sy / NULLIF(n, 0.0) AS c1,
        |    sx2y - sx2 * sy / NULLIF(n, 0.0) AS c2,
        |    syy - sy * sy / NULLIF(n, 0.0) AS sst
        |  FROM m),
        |c2s AS (SELECT *, NULLIF(a11 * a22 - a12 * a12, 0.0) AS det FROM c1s),
        |c3s AS (
        |  SELECT *,
        |    (c1 * a22 - c2 * a12) / det AS b1,
        |    (c2 * a11 - c1 * a12) / det AS b2
        |  FROM c2s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  (sy - b1 * sx1 - b2 * sx2) / NULLIF(n, 0.0) AS beta0,
        |  b1 AS beta1, b2 AS beta2,
        |  CASE WHEN sst = 0.0 THEN 0.0
        |       ELSE 1.0 - (sst - (b1 * c1 + b2 * c2)) / sst END AS r2
        |FROM c3s""".stripMargin)),

    // The same fit with classical inference: sigma^2, coefficient
    // standard errors from the centered (X'X)^-1 cofactors, t stats
    // and normal-approx 5% verdicts — all from the one moment panel.
    Query("ml_linear_tstats", ((s: SparkSession, d: String) =>
      MlLite.olsInference(
        t(s, d, "events").filter(col("ts").isNotNull)
          .select(col("value"),
            hour(col("ts")).cast("double").as("hr"),
            Temporal.isoDow(col("ts")).cast("double").as("iso_dow")),
        "value", "hr", "iso_dow")),
      // MlLite.olsInference mirrored: the ml_ols_value CTE chain plus
      // sigma2/SE/t in the identical fixed IEEE order; sqrt through the
      // same NULL-on-negative guard (DuckDB errors on sqrt(<0)).
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(value * 1e6) / 1e6 AS yq,
        |    CAST(hour(ts) AS DOUBLE) AS x1,
        |    CAST(isodow(ts) AS DOUBLE) AS x2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(yq AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x1,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2x2,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x2,
        |    CAST(SUM(CAST(x1 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx1y,
        |    CAST(SUM(CAST(x2 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx2y,
        |    CAST(SUM(CAST(FLOOR(yq * yq * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM r0),
        |c1s AS (
        |  SELECT *,
        |    sx1x1 - sx1 * sx1 / NULLIF(n, 0.0) AS a11,
        |    sx2x2 - sx2 * sx2 / NULLIF(n, 0.0) AS a22,
        |    sx1x2 - sx1 * sx2 / NULLIF(n, 0.0) AS a12,
        |    sx1y - sx1 * sy / NULLIF(n, 0.0) AS c1,
        |    sx2y - sx2 * sy / NULLIF(n, 0.0) AS c2,
        |    syy - sy * sy / NULLIF(n, 0.0) AS sst
        |  FROM m),
        |c2s AS (SELECT *, NULLIF(a11 * a22 - a12 * a12, 0.0) AS det FROM c1s),
        |c3s AS (
        |  SELECT *,
        |    (c1 * a22 - c2 * a12) / det AS b1,
        |    (c2 * a11 - c1 * a12) / det AS b2
        |  FROM c2s),
        |c4s AS (
        |  SELECT *,
        |    (sst - (b1 * c1 + b2 * c2)) / NULLIF(n - 3.0, 0.0) AS sigma2,
        |    sx1 / NULLIF(n, 0.0) AS m1, sx2 / NULLIF(n, 0.0) AS m2
        |  FROM c3s),
        |c5s AS (
        |  SELECT *,
        |    CASE WHEN sigma2 * a22 / det < 0.0 THEN NULL
        |         ELSE sqrt(sigma2 * a22 / det) END AS se1,
        |    CASE WHEN sigma2 * a11 / det < 0.0 THEN NULL
        |         ELSE sqrt(sigma2 * a11 / det) END AS se2,
        |    CASE WHEN sigma2 * (1.0 / NULLIF(n, 0.0)
        |        + (m1 * m1 * a22 - 2.0 * m1 * m2 * a12 + m2 * m2 * a11) / det) < 0.0 THEN NULL
        |         ELSE sqrt(sigma2 * (1.0 / NULLIF(n, 0.0)
        |        + (m1 * m1 * a22 - 2.0 * m1 * m2 * a12 + m2 * m2 * a11) / det)) END AS se0,
        |    (sy - b1 * sx1 - b2 * sx2) / NULLIF(n, 0.0) AS b0
        |  FROM c4s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  b0 AS beta0, b1 AS beta1, b2 AS beta2, sigma2,
        |  se0, se1, se2,
        |  b0 / NULLIF(se0, 0.0) AS t0,
        |  b1 / NULLIF(se1, 0.0) AS t1,
        |  b2 / NULLIF(se2, 0.0) AS t2,
        |  abs(b1 / NULLIF(se1, 0.0)) > 1.96 AS x1_significant_5pct,
        |  abs(b2 / NULLIF(se2, 0.0)) > 1.96 AS x2_significant_5pct
        |FROM c5s""".stripMargin)),

    // Logistic regression by 6 rounds of full-batch gradient descent
    // (driver sees one 4-scalar gradient panel per round): is this
    // event a purchase, from grid-quantized hour/dow/value features.
    Query("ml_logreg_purchase", ((s: SparkSession, d: String) =>
      MlLite.logisticRegression(logregFeatures(s, d),
        "y", Seq("x1", "x2", "x3"), lr = 0.5, rounds = 6)),
      Sql(logregOracleSql(rounds = 6, lr = "0.5"))),

    // Variance inflation factors over the same design: per feature
    // the R-squared against the OTHER features and 1/(1-R2) — the
    // multicollinearity diagnostic read before trusting any
    // coefficient.
    Query("ml_vif", ((s: SparkSession, d: String) =>
      MlLite.vif(logregFeatures(s, d), Seq("x1", "x2", "x3"))),
      // MlLite.vif mirrored: one DECIMAL(38,12) moment panel, each sum
      // cast to double once, the same fixed r/R2/VIF sequence and the
      // same degenerate-input guards.
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(hour(ts) / 24.0 * 1e6) / 1e6 AS x1,
        |    FLOOR(isodow(ts) / 7.0 * 1e6) / 1e6 AS x2,
        |    FLOOR(value / 100.0 * 1e6) / 1e6 AS x3
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,12))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(x3 AS DECIMAL(38,12))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,12))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(x3 * x3 AS DECIMAL(38,12))) AS DOUBLE) AS s33,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(x1 * x3 AS DECIMAL(38,12))) AS DOUBLE) AS s13,
        |    CAST(SUM(CAST(x2 * x3 AS DECIMAL(38,12))) AS DOUBLE) AS s23
        |  FROM r0),
        |rr AS (
        |  SELECT n,
        |    CASE WHEN sqrt(CAST(n AS DOUBLE) * s11 - s1 * s1)
        |              * sqrt(CAST(n AS DOUBLE) * s22 - s2 * s2) <> 0.0
        |         THEN (CAST(n AS DOUBLE) * s12 - s1 * s2)
        |              / (sqrt(CAST(n AS DOUBLE) * s11 - s1 * s1)
        |                 * sqrt(CAST(n AS DOUBLE) * s22 - s2 * s2)) END AS r12,
        |    CASE WHEN sqrt(CAST(n AS DOUBLE) * s11 - s1 * s1)
        |              * sqrt(CAST(n AS DOUBLE) * s33 - s3 * s3) <> 0.0
        |         THEN (CAST(n AS DOUBLE) * s13 - s1 * s3)
        |              / (sqrt(CAST(n AS DOUBLE) * s11 - s1 * s1)
        |                 * sqrt(CAST(n AS DOUBLE) * s33 - s3 * s3)) END AS r13,
        |    CASE WHEN sqrt(CAST(n AS DOUBLE) * s22 - s2 * s2)
        |              * sqrt(CAST(n AS DOUBLE) * s33 - s3 * s3) <> 0.0
        |         THEN (CAST(n AS DOUBLE) * s23 - s2 * s3)
        |              / (sqrt(CAST(n AS DOUBLE) * s22 - s2 * s2)
        |                 * sqrt(CAST(n AS DOUBLE) * s33 - s3 * s3)) END AS r23
        |  FROM m),
        |rows_ AS (
        |  SELECT 'x1' AS feature, n,
        |    CASE WHEN 1.0 - r23 * r23 <> 0.0
        |         THEN (r12*r12 + r13*r13 - 2.0*r12*r13*r23) / (1.0 - r23*r23)
        |    END AS r2 FROM rr
        |  UNION ALL
        |  SELECT 'x2', n,
        |    CASE WHEN 1.0 - r13 * r13 <> 0.0
        |         THEN (r12*r12 + r23*r23 - 2.0*r12*r23*r13) / (1.0 - r13*r13)
        |    END FROM rr
        |  UNION ALL
        |  SELECT 'x3', n,
        |    CASE WHEN 1.0 - r12 * r12 <> 0.0
        |         THEN (r13*r13 + r23*r23 - 2.0*r13*r23*r12) / (1.0 - r12*r12)
        |    END FROM rr)
        |SELECT feature, n,
        |  FLOOR(r2 * 1e6) / 1e6 AS r2_others,
        |  CASE WHEN r2 IS NOT NULL AND r2 < 1.0
        |       THEN FLOOR(1.0 / (1.0 - r2) * 1e6) / 1e6 END AS vif
        |FROM rows_""".stripMargin)),

    // Permutation feature importance of the same fit: per feature the
    // AUC drop under a deterministic md5-bucket rotation of that
    // column — does the model actually USE the feature.
    Query("ml_permutation_importance", ((s: SparkSession, d: String) =>
      MlLite.permutationImportance(logregFeaturesWithId(s, d), "event_id",
        "y", Seq("x1", "x2", "x3"), lr = 0.5, rounds = 6)),
      // Permutation importance: the shared GD chain + per-feature
      // md5-bucket rotations + exact-midrank AUC blocks.
      Sql(permImportanceOracleSql(rounds = 6, lr = "0.5", buckets = 64))),

    // Calibration (reliability) panel of the same fit: 10 equal-width
    // probability bins, mean predicted p vs observed positive rate —
    // the curve that says whether "p = 0.8" means 80%.
    Query("ml_logreg_calibration", ((s: SparkSession, d: String) =>
      MlLite.logisticCalibration(logregFeatures(s, d),
        "y", Seq("x1", "x2", "x3"), lr = 0.5, rounds = 6, bins = 10)),
      Sql(logregCalibrationOracleSql(rounds = 6, lr = "0.5", bins = 10))),

    // Precision/recall curve of the same fit: exact confusion counts
    // per decision threshold — the operating-point menu.
    Query("ml_logreg_pr_curve", ((s: SparkSession, d: String) =>
      MlLite.logisticPrCurve(logregFeatures(s, d),
        "y", Seq("x1", "x2", "x3"), lr = 0.5, rounds = 6,
        thresholds = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))),
      Sql(logregPrOracleSql(rounds = 6, lr = "0.5",
        thresholds = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)))),

    // Expected-cost curve over the same confusion counts: per FN cost
    // ratio the cost at every threshold, argmin flagged — the
    // threshold-to-deploy readout at each cost asymmetry.
    Query("ml_cost_curve", ((s: SparkSession, d: String) =>
      MlLite.costCurve(logregFeatures(s, d),
        "y", Seq("x1", "x2", "x3"), lr = 0.5, rounds = 6,
        thresholds = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
        fnCostRatios = Seq(1.0, 2.0, 5.0, 10.0))),
      // MlLite.costCurve mirrored: the PR-curve replay as a CTE, the
      // threshold × ratio grid, exact-count cost arithmetic, per-ratio
      // argmin by exact-double equality.
      Sql(s"""WITH pr AS (
        |${logregPrOracleSql(rounds = 6, lr = "0.5",
          thresholds = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))}
        |),
        |grid AS (
        |  SELECT threshold, tp, fp, fn, fn_cost_ratio,
        |    CAST(fp AS DOUBLE) + fn_cost_ratio * CAST(fn AS DOUBLE) AS expected_cost
        |  FROM pr CROSS JOIN (
        |    SELECT CAST(UNNEST([1.0, 2.0, 5.0, 10.0]) AS DOUBLE) AS fn_cost_ratio)),
        |best AS (
        |  SELECT fn_cost_ratio, MIN(expected_cost) AS b
        |  FROM grid GROUP BY 1)
        |SELECT g.fn_cost_ratio, g.threshold, g.tp, g.fp, g.fn,
        |  g.expected_cost, g.expected_cost = b.b AS is_optimal
        |FROM grid g JOIN best b USING (fn_cost_ratio)""".stripMargin)),

    // Information-gain ranking of binned features vs the purchase
    // label — the decision-tree split criterion as a panel, the
    // nonparametric complement of the logistic coefficients.
    Query("ml_info_gain", ((s: SparkSession, d: String) =>
      MlLite.infoGain(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            hour(col("ts")).cast("long").as("hr"),
            Temporal.isoDow(col("ts")).cast("long").as("dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("valdec")),
        "y", Seq("hr", "dow", "valdec"))),
      // MlLite.infoGain mirrored: count-weighted entropies with
      // 1e-6-grid ln terms in DECIMAL partials, one /n at the end.
      Sql("""WITH r0 AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    hour(ts) AS hr, isodow(ts) AS dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS valdec
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |lng AS (
        |  SELECT y, 'hr' AS feature, CAST(hr AS BIGINT) AS fval FROM r0
        |  UNION ALL SELECT y, 'dow', CAST(dow AS BIGINT) FROM r0
        |  UNION ALL SELECT y, 'valdec', valdec FROM r0),
        |cells AS (SELECT feature, fval, y, COUNT(*) AS n_vc FROM lng GROUP BY 1, 2, 3),
        |pv AS (SELECT feature, fval, SUM(n_vc) AS n_v FROM cells GROUP BY 1, 2),
        |cond AS (
        |  SELECT c.feature,
        |    SUM(CAST(c.n_vc * (FLOOR(LN(CAST(c.n_vc AS DOUBLE) / CAST(p.n_v AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6))) AS sx,
        |    COUNT(DISTINCT c.fval) AS n_values,
        |    SUM(c.n_vc) AS n
        |  FROM cells c JOIN pv p ON p.feature = c.feature AND p.fval = c.fval
        |  GROUP BY 1),
        |lt AS (
        |  SELECT SUM(CAST(n_c * (FLOOR(LN(CAST(n_c AS DOUBLE) / CAST(n_t AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6))) AS sy
        |  FROM (SELECT y, SUM(n_vc) AS n_c FROM cells WHERE feature = 'hr' GROUP BY 1) a,
        |       (SELECT SUM(n_vc) AS n_t FROM cells WHERE feature = 'hr') b)
        |SELECT feature, CAST(n_values AS BIGINT) AS n_values,
        |  -CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS entropy_y,
        |  -CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cond_entropy,
        |  CAST(sx - sy AS DOUBLE) / CAST(n AS DOUBLE) AS info_gain
        |FROM cond, lt""".stripMargin)),

    // AdaBoost over 5 weighted stumps on the collapsed feature-combo
    // panel (one data scan; each boosting pass is panel math): the
    // per-round model + the cumulative ensemble accuracy curve.
    Query("ml_adaboost_stumps", ((s: SparkSession, d: String) =>
      MlLite.adaboostStumps(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            hour(col("ts")).cast("long").as("hr"),
            Temporal.isoDow(col("ts")).cast("long").as("dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("valdec")),
        "y", Seq("hr", "dow", "valdec"), rounds = 5)),
      Sql(adaboostOracleSql(rounds = 5))),

    // Leave-one-out target encoding of the high-cardinality customer
    // key against order value (smoothing m=20): the encoded column a
    // downstream fit consumes, own label excluded, rare categories
    // shrunk to the prior.
    Query("ml_target_encode", ((s: SparkSession, d: String) =>
      MlLite.targetEncode(t(s, d, "orders"),
        "o_orderkey", "o_custkey", "o_totalprice", smoothing = 20.0)),
      // LOO target encoding replay: decimal-exact category sums, the
      // subtract-in-decimal-then-cast encode, raw-quotient prior.
      Sql("""WITH base AS (
        |  SELECT o_orderkey AS id, o_custkey AS cat,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS yv
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL),
        |cats AS (
        |  SELECT cat, COUNT(*) AS n_cat, CAST(SUM(yv) AS DECIMAL(18,2)) AS sy_cat
        |  FROM base GROUP BY 1),
        |g AS (SELECT CAST(SUM(yv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS prior FROM base)
        |SELECT b.id, b.cat, CAST(b.yv AS DOUBLE) AS y, c.n_cat, g.prior,
        |  (CAST(c.sy_cat - b.yv AS DOUBLE) + 20.0 * g.prior)
        |    / (CAST(c.n_cat - 1 AS DOUBLE) + 20.0) AS encoded
        |FROM base b JOIN cats c ON c.cat = b.cat, g""".stripMargin)),

    // Gradient-boosted stump regression (squared loss) predicting
    // event value from the calendar features: 5 shrunk residual-fit
    // rounds on the collapsed (hr, dow) combo panel; the train_mse
    // column is the boosting curve. eta=0.25 (dyadic — exact IEEE
    // scaling, oracle-replayable).
    Query("ml_gbt_regression", ((s: SparkSession, d: String) =>
      MlLite.gbtStumpsRegression(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("value").as("y"),
            hour(col("ts")).cast("long").as("hr"),
            Temporal.isoDow(col("ts")).cast("long").as("dow")),
        "y", Seq("hr", "dow"), rounds = 5, eta = 0.25)),
      Sql(gbtOracleSql(rounds = 5))),

    // Decision stump: the best single feature<=threshold split by
    // info gain over the same binned features, with majority leaves
    // and training accuracy — the unit a boosting loop stacks.
    Query("ml_decision_stump", ((s: SparkSession, d: String) =>
      MlLite.decisionStump(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            hour(col("ts")).cast("long").as("hr"),
            Temporal.isoDow(col("ts")).cast("long").as("dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("valdec")),
        "y", Seq("hr", "dow", "valdec"))),
      // MlLite.decisionStump mirrored: cumulative bin prefixes per
      // feature, guarded 0·ln0 split entropies, total-ordered argmax.
      Sql("""WITH r0 AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    hour(ts) AS hr, isodow(ts) AS dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS valdec
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |lng AS (
        |  SELECT y, 'hr' AS feature, CAST(hr AS BIGINT) AS fval FROM r0
        |  UNION ALL SELECT y, 'dow', CAST(dow AS BIGINT) FROM r0
        |  UNION ALL SELECT y, 'valdec', valdec FROM r0),
        |cells AS (SELECT feature, fval, y, COUNT(*) AS n_vc FROM lng GROUP BY 1, 2, 3),
        |pv AS (
        |  SELECT feature, fval, SUM(n_vc) AS n_v,
        |    SUM(CASE WHEN y = 1 THEN n_vc ELSE 0 END) AS pos_v
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT feature, SUM(n_v) AS n, SUM(pos_v) AS pos, MAX(fval) AS maxv
        |        FROM pv GROUP BY 1),
        |cand AS (
        |  SELECT pv.feature, pv.fval,
        |    SUM(n_v) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS n_le,
        |    SUM(pos_v) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS pos_le,
        |    tot.n, tot.pos, tot.maxv
        |  FROM pv JOIN tot ON tot.feature = pv.feature),
        |c2 AS (
        |  SELECT *, n - n_le AS n_gt, pos - pos_le AS pos_gt
        |  FROM cand WHERE fval < maxv),
        |scored AS (
        |  SELECT *,
        |    (CASE WHEN pos_le > 0 THEN CAST(pos_le * (FLOOR(LN(CAST(pos_le AS DOUBLE) / CAST(n_le AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END
        |     + CASE WHEN n_le - pos_le > 0 THEN CAST((n_le - pos_le) * (FLOOR(LN(CAST(n_le - pos_le AS DOUBLE) / CAST(n_le AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END
        |     + CASE WHEN pos_gt > 0 THEN CAST(pos_gt * (FLOOR(LN(CAST(pos_gt AS DOUBLE) / CAST(n_gt AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END
        |     + CASE WHEN n_gt - pos_gt > 0 THEN CAST((n_gt - pos_gt) * (FLOOR(LN(CAST(n_gt - pos_gt AS DOUBLE) / CAST(n_gt AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END) AS sx,
        |    (CASE WHEN pos > 0 THEN CAST(pos * (FLOOR(LN(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END
        |     + CASE WHEN n - pos > 0 THEN CAST((n - pos) * (FLOOR(LN(CAST(n - pos AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END) AS sy
        |  FROM c2)
        |SELECT feature, fval AS threshold,
        |  CAST(sx - sy AS DOUBLE) / CAST(n AS DOUBLE) AS info_gain,
        |  CASE WHEN pos_le * 2 > n_le THEN 1 ELSE 0 END AS left_pred,
        |  CASE WHEN pos_gt * 2 > n_gt THEN 1 ELSE 0 END AS right_pred,
        |  CAST(GREATEST(pos_le, n_le - pos_le) + GREATEST(pos_gt, n_gt - pos_gt) AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS accuracy
        |FROM scored
        |QUALIFY ROW_NUMBER() OVER (ORDER BY CAST(sx - sy AS DOUBLE) / CAST(n AS DOUBLE) DESC, feature, fval) = 1""".stripMargin)),

    // Ridge regression on the same moment panel (lambda on the
    // centered diagonal, intercept unpenalized) — shrinkage priced by
    // the honest quadratic-form r2.
    Query("ml_ridge_value", ((s: SparkSession, d: String) =>
      MlLite.ridgeTwoFeature(
        t(s, d, "events").filter(col("ts").isNotNull)
          .select(col("value"),
            hour(col("ts")).cast("double").as("hr"),
            Temporal.isoDow(col("ts")).cast("double").as("iso_dow")),
        "value", "hr", "iso_dow", lambda = 100000.0)),
      // MlLite.ridgeTwoFeature mirrored: the OLS moment panel with
      // lambda on the centered diagonal and the full quadratic-form SSE
      // over the UNpenalized moments.
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(value * 1e6) / 1e6 AS yq,
        |    CAST(hour(ts) AS DOUBLE) AS x1,
        |    CAST(isodow(ts) AS DOUBLE) AS x2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(yq AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x1,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx2x2,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS sx1x2,
        |    CAST(SUM(CAST(x1 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx1y,
        |    CAST(SUM(CAST(x2 * yq AS DECIMAL(28,6))) AS DOUBLE) AS sx2y,
        |    CAST(SUM(CAST(FLOOR(yq * yq * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM r0),
        |c1s AS (
        |  SELECT *,
        |    sx1x1 - sx1 * sx1 / NULLIF(n, 0.0) AS a11u,
        |    sx2x2 - sx2 * sx2 / NULLIF(n, 0.0) AS a22u,
        |    sx1x2 - sx1 * sx2 / NULLIF(n, 0.0) AS a12,
        |    sx1y - sx1 * sy / NULLIF(n, 0.0) AS c1,
        |    sx2y - sx2 * sy / NULLIF(n, 0.0) AS c2,
        |    syy - sy * sy / NULLIF(n, 0.0) AS sst
        |  FROM m),
        |c1r AS (SELECT *, a11u + 100000.0 AS a11, a22u + 100000.0 AS a22 FROM c1s),
        |c2s AS (SELECT *, NULLIF(a11 * a22 - a12 * a12, 0.0) AS det FROM c1r),
        |c3s AS (
        |  SELECT *,
        |    (c1 * a22 - c2 * a12) / det AS b1,
        |    (c2 * a11 - c1 * a12) / det AS b2
        |  FROM c2s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  (sy - b1 * sx1 - b2 * sx2) / NULLIF(n, 0.0) AS beta0,
        |  b1 AS beta1, b2 AS beta2,
        |  CASE WHEN sst = 0.0 THEN 0.0
        |       ELSE 1.0 - (sst - 2.0 * (b1 * c1 + b2 * c2)
        |         + (b1 * b1 * a11u + 2.0 * b1 * b2 * a12 + b2 * b2 * a22u)) / sst END AS r2
        |FROM c3s""".stripMargin)),

    // Confusion panel of the naive-Bayes classifier: exact
    // (true, predicted) doc counts — the evaluation artifact next to
    // the model it describes.
    Query("ml_nb_confusion", ((s: SparkSession, d: String) =>
      MlLite.naiveBayes(t(s, d, "documents"), "doc_id", "text", "lang")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n_docs"))),
      // The confusion panel is the NB oracle wrapped in one GROUP BY
      // — exact (true, predicted) counts.
      Sql(s"""WITH nb AS (
         |${nbOracleSql.replace("\n", "\n  ")})
         |SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM nb GROUP BY 1, 2""".stripMargin)),

    // 5-fold cross-validated NB accuracy WITHOUT training 5 models:
    // every per-fold training count is global minus fold (counts are
    // additive), per-fold vocabulary by exclusive-token subtraction —
    // in-engine CV linear in corpus size, not k x it.
    Query("ml_nb_kfold_cv", ((s: SparkSession, d: String) =>
      MlLite.naiveBayesKFold(t(s, d, "documents"), "doc_id", "text",
        "lang", folds = 5)),
      // MlLite.naiveBayesKFold mirrored: the global-minus-fold count
      // subtraction, the exclusive-token vocabulary, the same §5
      // scoring, folds from the md5-tiling idiom.
      Sql(s"""WITH tok0 AS (
         |  SELECT doc_id, lang AS label, UNNEST($toksSql) AS token FROM documents),
         |tok AS (
         |  SELECT *, CAST(FLOOR(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) * 5 AS DOUBLE) / 4294967296.0) AS INTEGER) AS fold_id
         |  FROM tok0 WHERE token <> ''),
         |dt AS (SELECT doc_id, fold_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
         |ctg AS (SELECT label, token, COUNT(*) AS cnt_g FROM tok GROUP BY 1, 2),
         |ctf AS (SELECT fold_id, label, token, COUNT(*) AS cnt_f FROM tok GROUP BY 1, 2, 3),
         |tg AS (SELECT token, SUM(cnt_g) AS any_g FROM ctg GROUP BY 1),
         |tft AS (SELECT fold_id, token, SUM(cnt_f) AS any_f FROM ctf GROUP BY 1, 2),
         |vg AS (SELECT COUNT(*) AS v_g FROM tg),
         |vf AS (
         |  SELECT fold_id, v_g - SUM(CASE WHEN any_f = any_g THEN 1 ELSE 0 END) AS v_train
         |  FROM tft JOIN tg USING (token), vg GROUP BY fold_id, v_g),
         |dff AS (
         |  SELECT doc_id, lang AS label,
         |    CAST(FLOOR(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) * 5 AS DOUBLE) / 4294967296.0) AS INTEGER) AS fold_id
         |  FROM documents),
         |ncg AS (SELECT label, COUNT(*) AS n_c_g FROM dff GROUP BY 1),
         |ncf AS (SELECT fold_id, label, COUNT(*) AS n_c_f FROM dff GROUP BY 1, 2),
         |ntot AS (SELECT COUNT(*) AS n_g FROM dff),
         |nfold AS (SELECT fold_id, COUNT(*) AS n_f FROM dff GROUP BY 1),
         |tcg AS (SELECT label, SUM(cnt_g) AS tot_g FROM ctg GROUP BY 1),
         |tcf AS (SELECT fold_id, label, SUM(cnt_f) AS tot_f FROM ctf GROUP BY 1, 2),
         |cp AS (
         |  SELECT f.fold_id, g.label,
         |    FLOOR(LN(CAST(g.n_c_g - COALESCE(ncf.n_c_f, 0) AS DOUBLE)
         |      / CAST(ntot.n_g - f.n_f AS DOUBLE)) * 1e6) / 1e6 AS log_prior,
         |    FLOOR(LN(CAST((tcg.tot_g - COALESCE(tcf.tot_f, 0)) + vf.v_train AS DOUBLE)) * 1e6) / 1e6 AS log_denom
         |  FROM nfold f
         |  CROSS JOIN ncg g
         |  JOIN vf ON vf.fold_id = f.fold_id
         |  CROSS JOIN ntot
         |  LEFT JOIN ncf ON ncf.fold_id = f.fold_id AND ncf.label = g.label
         |  JOIN tcg ON tcg.label = g.label
         |  LEFT JOIN tcf ON tcf.fold_id = f.fold_id AND tcf.label = g.label
         |  WHERE g.n_c_g - COALESCE(ncf.n_c_f, 0) > 0),
         |ms AS (
         |  SELECT dt.doc_id, ctg.label,
         |    SUM(CAST(dt.tf * (FLOOR(LN(CAST((ctg.cnt_g - COALESCE(ctf.cnt_f, 0)) + 1 AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6))) AS match_sum
         |  FROM dt JOIN ctg ON ctg.token = dt.token
         |  LEFT JOIN ctf ON ctf.fold_id = dt.fold_id AND ctf.label = ctg.label AND ctf.token = dt.token
         |  GROUP BY 1, 2),
         |dp AS (
         |  SELECT dt.doc_id, dt.fold_id, SUM(dt.tf) AS n_tok, MIN(d.label) AS true_label
         |  FROM dt JOIN dff d ON d.doc_id = dt.doc_id GROUP BY 1, 2),
         |sc AS (
         |  SELECT dp.doc_id, dp.fold_id, dp.true_label, cp.label,
         |    CAST(CAST(cp.log_prior AS DECIMAL(28,6))
         |      - CAST(dp.n_tok * cp.log_denom AS DECIMAL(28,6))
         |      + COALESCE(ms.match_sum, CAST(0 AS DECIMAL(28,6))) AS DOUBLE) AS score
         |  FROM dp JOIN cp ON cp.fold_id = dp.fold_id
         |  LEFT JOIN ms ON ms.doc_id = dp.doc_id AND ms.label = cp.label),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
         |  FROM sc)
         |SELECT fold_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM rk WHERE rn = 1 GROUP BY 1""".stripMargin)),

    // Learning curve: NB held-out accuracy at nested md5 train
    // fractions of the 80% pool — "does more crawl buy accuracy",
    // answered before the crawl is paid for.
    Query("ml_learning_curve", ((s: SparkSession, d: String) =>
      MlLite.learningCurve(t(s, d, "documents"), "doc_id", "text",
        "lang", testFrac = 0.2, fracs = Seq(0.1, 0.25, 0.5, 1.0))),
      // MlLite.learningCurve mirrored: shared md5-keyed token/test
      // CTEs, one namespaced NB train+score chain per fraction
      // (integer-threshold splits — no float membership tests),
      // UNION ALL of the per-fraction 1-row panels.
      Sql({
      val full = 4294967296.0
      val thrTest = math.floor(0.8 * full).toLong
      val hSql = "CAST(concat('0x', substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)"
      val shared =
        s"""WITH docsh AS (
           |  SELECT doc_id, lang AS label, $hSql AS h FROM documents),
           |tok0 AS (
           |  SELECT doc_id, lang AS label, $hSql AS h,
           |    UNNEST($toksSql) AS token
           |  FROM documents),
           |tok AS (SELECT * FROM tok0 WHERE token <> ''),
           |ttf AS (
           |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
           |  WHERE h >= $thrTest GROUP BY 1, 2),
           |dp AS (
           |  SELECT t.doc_id, SUM(t.tf) AS n_tok, MIN(d.label) AS true_label
           |  FROM ttf t JOIN docsh d ON d.doc_id = t.doc_id
           |  WHERE d.h >= $thrTest GROUP BY 1)""".stripMargin
      val fracs = Seq(0.1, 0.25, 0.5, 1.0)
      val blocks = fracs.zipWithIndex.map { case (f, i) =>
        val thr = math.floor(0.8 * f * full).toLong
        s"""ctg_$i AS (
           |  SELECT label, token, COUNT(*) AS cnt FROM tok
           |  WHERE h < $thr GROUP BY 1, 2),
           |vg_$i AS (SELECT COUNT(DISTINCT token) AS v FROM ctg_$i),
           |pri_$i AS (
           |  SELECT label, COUNT(*) AS n_c FROM docsh WHERE h < $thr GROUP BY 1),
           |ntr_$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM docsh WHERE h < $thr),
           |totc_$i AS (SELECT label, SUM(cnt) AS tot_c FROM ctg_$i GROUP BY 1),
           |cp_$i AS (
           |  SELECT p.label, n_train,
           |    FLOOR(LN(CAST(p.n_c AS DOUBLE) / CAST(n_train AS DOUBLE)) * 1e6) / 1e6 AS log_prior,
           |    FLOOR(LN(CAST(COALESCE(tc.tot_c, 0) + v AS DOUBLE)) * 1e6) / 1e6 AS log_denom
           |  FROM pri_$i p
           |  LEFT JOIN totc_$i tc USING (label)
           |  CROSS JOIN ntr_$i CROSS JOIN vg_$i),
           |ms_$i AS (
           |  SELECT t.doc_id, c.label,
           |    SUM(CAST(t.tf * (FLOOR(LN(CAST(c.cnt + 1 AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6))) AS match_sum
           |  FROM ttf t JOIN ctg_$i c ON c.token = t.token GROUP BY 1, 2),
           |sc_$i AS (
           |  SELECT dp.doc_id, dp.true_label, cp.label, cp.n_train,
           |    CAST(CAST(cp.log_prior AS DECIMAL(28,6))
           |      - CAST(dp.n_tok * cp.log_denom AS DECIMAL(28,6))
           |      + COALESCE(ms.match_sum, CAST(0 AS DECIMAL(28,6))) AS DOUBLE) AS score
           |  FROM dp CROSS JOIN cp_$i cp
           |  LEFT JOIN ms_$i ms ON ms.doc_id = dp.doc_id AND ms.label = cp.label),
           |rk_$i AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
           |  FROM sc_$i)""".stripMargin
      }
      val sels = fracs.zipWithIndex.map { case (f, i) =>
        s"""SELECT CAST($f AS DOUBLE) AS train_frac, n_train,
           |  CAST(COUNT(*) AS BIGINT) AS n_test,
           |  CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           |  CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
           |FROM rk_$i WHERE rn = 1 GROUP BY n_train""".stripMargin
      }
      (shared +: blocks).mkString(",\n") + "\n" + sels.mkString("\nUNION ALL\n")
    })),

    // k-NN classification over the exact cosine tier: majority label
    // of the 5 nearest neighbors, vote ties to the smaller label —
    // the application layer the recall panel prices approximations
    // against.
    Query("ml_knn_classify", ((s: SparkSession, d: String) =>
      Ann.knnClassify(t(s, d, "embeddings"), "vec_id", "embedding",
        "label", nQueries = 50, k = 5)),
      // Ann.knnClassify mirrored over the proven cosine fold: top-5
      // neighbors per query, majority vote, ties to the smaller label.
      Sql("""WITH base AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
        |  FROM base),
        |q AS (SELECT vec_id AS q_id, label AS label_true, v AS qv, nrm AS qnrm
        |      FROM n WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.q_id, n.vec_id AS neighbor_id, n.label AS n_label,
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2])), (a, b) -> a + b)
        |      / (n.nrm * q.qnrm) AS cos_sim
        |  FROM n CROSS JOIN q WHERE n.vec_id <> q.q_id),
        |topk AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        |    FROM scored) WHERE rk <= 5),
        |votes AS (
        |  SELECT q_id, n_label, CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM topk GROUP BY 1, 2),
        |best AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label) AS vr
        |  FROM votes)
        |SELECT b.q_id AS vec_id, qq.label_true, b.n_label AS pred_label,
        |  b.votes, b.n_label = qq.label_true AS is_correct
        |FROM best b
        |JOIN (SELECT DISTINCT q_id, label_true FROM q) qq ON qq.q_id = b.q_id
        |WHERE b.vr = 1""".stripMargin)),

    // Centroid-based silhouette per cluster over the same model:
    // s = (b-a)/max(a,b), mean per cluster — the separation readout.
    Query("ml_kmeans_silhouette", ((s: SparkSession, d: String) =>
      Ann.kmeansSilhouette(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 4, rounds = 5)),
      Sql(kmeansSilhouetteOracleSql(4, 5)))
  )

  /** Shared feature frame of the logreg fit + its calibration panel:
    * purchase flag vs grid-quantized hour/iso-dow/value (§5 grids so
    * the chained-CTE oracle replays the fit bit for bit).
    */
  private def logregFeatures(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(
        when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"),
        (floor(hour(col("ts")).cast("double") / lit(24.0) * lit(1e6))
          / lit(1e6)).as("x1"),
        (floor(Temporal.isoDow(col("ts")).cast("double") / lit(7.0)
          * lit(1e6)) / lit(1e6)).as("x2"),
        (floor(col("value") / lit(100.0) * lit(1e6)) / lit(1e6)).as("x3"))

  /** [[logregFeatures]] carrying the row id the permutation-importance
    * operator keys its deterministic shuffles on.
    */
  private def logregFeaturesWithId(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_id"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0).as("y"),
        (floor(hour(col("ts")).cast("double") / lit(24.0) * lit(1e6))
          / lit(1e6)).as("x1"),
        (floor(Temporal.isoDow(col("ts")).cast("double") / lit(7.0)
          * lit(1e6)) / lit(1e6)).as("x2"),
        (floor(col("value") / lit(100.0) * lit(1e6)) / lit(1e6)).as("x3"))

  /** The gridded-sigmoid score expression of the logreg GD chain —
    * shared by every oracle that applies the trained weights.
    */
  private def logregPExprSql(w: String): String =
    s"FLOOR(1.0 / (1.0 + exp(-($w.w0 + $w.w1 * x1 + $w.w2 * x2 + $w.w3 * x3))) * 1e6) / 1e6"

  /** The GD iteration CTEs (g$r / w$r over r0 / nn / w0) — shared by
    * the logreg fit oracles and the permutation-importance oracle,
    * whose head carries the row id alongside the features.
    */
  private def logregIterCtes(rounds: Int, lr: String): Seq[String] =
    (1 to rounds).map { r =>
      s"""g$r AS (
         |  SELECT
         |    CAST(SUM(CAST((p - y) AS DECIMAL(38,12))) AS DOUBLE) AS g0,
         |    CAST(SUM(CAST((p - y) * x1 AS DECIMAL(38,12))) AS DOUBLE) AS g1,
         |    CAST(SUM(CAST((p - y) * x2 AS DECIMAL(38,12))) AS DOUBLE) AS g2,
         |    CAST(SUM(CAST((p - y) * x3 AS DECIMAL(38,12))) AS DOUBLE) AS g3
         |  FROM (SELECT r0.*, ${logregPExprSql("w")} AS p FROM r0, w${r - 1} w)),
         |w$r AS (
         |  SELECT
         |    FLOOR((w.w0 - $lr * (g.g0 / nn.n)) * 1e6) / 1e6 AS w0,
         |    FLOOR((w.w1 - $lr * (g.g1 / nn.n)) * 1e6) / 1e6 AS w1,
         |    FLOOR((w.w2 - $lr * (g.g2 / nn.n)) * 1e6) / 1e6 AS w2,
         |    FLOOR((w.w3 - $lr * (g.g3 / nn.n)) * 1e6) / 1e6 AS w3
         |  FROM w${r - 1} w, g$r g, nn)""".stripMargin
    }

  /** MlLite.logisticRegression replayed as a chained CTE (the
    * bpe_train_merges convention): round r's gradient scans r0 with
    * round r−1's 1-row weight panel cross-joined in, the weight
    * update mirrors the driver's `floor((w − lr·(g/n))·1e6)/1e6`
    * double arithmetic op for op, σ(z) floor-quantized per row.
    */
  private def logregOracleSql(rounds: Int, lr: String): String = {
    val head =
      """r0 AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
        |    FLOOR(hour(ts) / 24.0 * 1e6) / 1e6 AS x1,
        |    FLOOR(isodow(ts) / 7.0 * 1e6) / 1e6 AS x2,
        |    FLOOR(value / 100.0 * 1e6) / 1e6 AS x3
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM r0),
        |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    def pExpr(w: String) = logregPExprSql(w)
    val iters = logregIterCtes(rounds, lr)
    s"""WITH ${(head +: iters).mkString(",\n")}
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(w.w0) AS w0, MIN(w.w1) AS w1, MIN(w.w2) AS w2, MIN(w.w3) AS w3,
       |  CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
       |FROM (SELECT r0.*, ${pExpr("w")} AS p
       |      FROM r0, w$rounds w) q, w$rounds w""".stripMargin
  }

  /** Permutation-importance oracle: the shared GD chain over an
    * id-carrying head, per-feature md5-bucket rotations through the
    * identical LEAD/FIRST_VALUE window, and one exact-midrank AUC
    * block per scored relation (the ml_auc_roc shape).
    */
  private def permImportanceOracleSql(rounds: Int, lr: String,
                                      buckets: Int): String = {
    val head =
      """r0p AS MATERIALIZED (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
        |    FLOOR(hour(ts) / 24.0 * 1e6) / 1e6 AS x1,
        |    FLOOR(isodow(ts) / 7.0 * 1e6) / 1e6 AS x2,
        |    FLOOR(value / 100.0 * 1e6) / 1e6 AS x3
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_id IS NOT NULL),
        |r0 AS (SELECT y, x1, x2, x3 FROM r0p),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM r0),
        |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    val keyed =
      // effective bucket count mirrors MlLite.permutationImportance's
      // expected-size->=2 clamp: min(buckets, n/2), floor 1
      s"""keyed AS MATERIALIZED (
         |  SELECT *,
         |    CAST(concat('0x', substr(md5(COALESCE(CAST(event_id AS VARCHAR),
         |      '<NULL>')), 1, 8)) AS BIGINT)
         |      % GREATEST(1, LEAST($buckets,
         |          (SELECT COUNT(*) FROM r0p) // 2)) AS b,
         |    CAST(concat('0x', substr(md5(concat_ws('|',
         |      COALESCE(CAST(event_id AS VARCHAR), '<NULL>'), 'perm')), 1, 15))
         |      AS BIGINT) AS h
         |  FROM r0p)""".stripMargin
    val feats = Seq("x1", "x2", "x3")
    val scored = s"""sc0 AS (SELECT y, ${logregPExprSql("w")} AS p FROM r0p, w$rounds w)""" +:
      feats.zipWithIndex.map { case (f, i) =>
        val others = feats.filterNot(_ == f).mkString(", ")
        s"""pm${i + 1} AS (
           |  SELECT y, COALESCE(LEAD($f) OVER win, FIRST_VALUE($f) OVER win) AS $f,
           |    $others
           |  FROM keyed WINDOW win AS (PARTITION BY b ORDER BY h, event_id)),
           |sc${i + 1} AS (SELECT y, ${logregPExprSql("w")} AS p FROM pm${i + 1}, w$rounds w)""".stripMargin
      }
    def aucCtes(t: String, src: String): String =
      s"""${t}pnl AS (
         |  SELECT p AS s2,
         |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nn2,
         |    COUNT(*) AS nt
         |  FROM $src GROUP BY 1),
         |${t}rk AS (SELECT *, SUM(nt) OVER (ORDER BY s2) AS cum FROM ${t}pnl),
         |${t}agg AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn2) AS BIGINT) AS n_neg,
         |    SUM(CAST(CAST(np AS DOUBLE)
         |      * (CAST(cum - nt AS DOUBLE) + CAST(nt + 1 AS DOUBLE) / 2.0)
         |      AS DECIMAL(28,1))) AS rp
         |  FROM ${t}rk),
         |${t}a AS (
         |  SELECT (CAST(rp AS DOUBLE)
         |    - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)
         |    / NULLIF(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0) AS auc
         |  FROM ${t}agg)""".stripMargin
    val aucs = (0 to 3).map(i => aucCtes(s"a$i", s"sc$i"))
    val featRows = feats.zipWithIndex.map { case (f, i) =>
      s"SELECT '$f' AS feature, auc FROM a${i + 1}a"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${((head +: logregIterCtes(rounds, lr)) ++ Seq(keyed) ++ scored ++ aucs).mkString(",\n")}
       |SELECT f.feature, b.auc AS auc_model, f.auc AS auc_permuted,
       |  FLOOR((b.auc - f.auc) * 1e6) / 1e6 AS importance
       |FROM ($featRows) f CROSS JOIN a0a b""".stripMargin
  }

  /** The same chained-CTE fit, finished with the calibration binning
    * instead of the weight panel (MlLite.logisticCalibration).
    */
  private def logregCalibrationOracleSql(rounds: Int, lr: String,
                                         bins: Int): String = {
    val fit = logregOracleSql(rounds, lr)
    val ctes = fit.substring(0, fit.lastIndexOf("SELECT CAST(COUNT(*)"))
    s"""$ctes
       |SELECT LEAST(${bins - 1}, CAST(FLOOR(p * $bins) AS INTEGER)) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS mean_p,
       |  CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS pos_rate
       |FROM (SELECT r0.*,
       |        FLOOR(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3))) * 1e6) / 1e6 AS p
       |      FROM r0, w$rounds w) q
       |GROUP BY 1""".stripMargin
  }

  /** Chained-MATERIALIZED-CTE replay of the gradient-boosted stump
    * regression (MlLite.gbtStumpsRegression): per round the gridded
    * residual masses, the prefix-summed split candidates (narrowed to
    * DECIMAL(18,6) before subtraction — the §5 decimal-add rule), the
    * SSE-gain argmax with the (gain desc, feature, fval) total order,
    * the gridded leaf means and the eta-shrunk prediction update;
    * eta = 0.25 is a dyadic literal so the scaling is exact IEEE on
    * both engines.
    */
  private def gbtOracleSql(rounds: Int): String = {
    val head =
      """r0 AS MATERIALIZED (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS yv,
        |    hour(ts) AS hr, isodow(ts) AS dow
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |c0 AS MATERIALIZED (
        |  SELECT CAST(hr AS BIGINT) AS hr, CAST(dow AS BIGINT) AS dow,
        |    COUNT(*) AS n_j,
        |    CAST(SUM(yv) AS DECIMAL(18,2)) AS sy,
        |    CAST(SUM(CAST(yv * yv AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS syy
        |  FROM r0 GROUP BY 1, 2),
        |f0 AS MATERIALIZED (
        |  SELECT FLOOR(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(n_j) AS DOUBLE) * 1e6) / 1e6 AS f
        |  FROM c0),
        |p0 AS MATERIALIZED (SELECT c0.*, f0.f FROM c0, f0)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""sv$r AS MATERIALIZED (
         |  SELECT *, FLOOR((CAST(sy AS DOUBLE) - CAST(n_j AS DOUBLE) * f) * 1e6) / 1e6 AS s
         |  FROM p${r - 1}),
         |pv$r AS MATERIALIZED (
         |  SELECT feature, fval, SUM(CAST(s AS DECIMAL(28,6))) AS sr, SUM(n_j) AS nv
         |  FROM (SELECT s, n_j, 'hr' AS feature, hr AS fval FROM sv$r
         |        UNION ALL SELECT s, n_j, 'dow', dow FROM sv$r)
         |  GROUP BY 1, 2),
         |cd$r AS MATERIALIZED (
         |  SELECT pv.feature, pv.fval,
         |    CAST(SUM(sr) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,6)) AS s_le,
         |    SUM(nv) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS n_le,
         |    t.st, t.nt, t.maxv
         |  FROM pv$r pv JOIN (
         |    SELECT feature, CAST(SUM(sr) AS DECIMAL(18,6)) AS st,
         |      SUM(nv) AS nt, MAX(fval) AS maxv
         |    FROM pv$r GROUP BY 1) t ON t.feature = pv.feature),
         |ce$r AS MATERIALIZED (
         |  SELECT feature, fval,
         |    CAST(s_le AS DOUBLE) AS sl, CAST(st - s_le AS DOUBLE) AS sg,
         |    CAST(n_le AS DOUBLE) AS nl, CAST(nt - n_le AS DOUBLE) AS ng
         |  FROM cd$r WHERE fval < maxv),
         |bs$r AS MATERIALIZED (
         |  SELECT feature, fval,
         |    FLOOR(sl / nl * 1e6) / 1e6 AS gamma_l,
         |    FLOOR(sg / ng * 1e6) / 1e6 AS gamma_r
         |  FROM ce$r
         |  QUALIFY ROW_NUMBER() OVER (
         |    ORDER BY sl * sl / nl + sg * sg / ng DESC, feature, fval) = 1),
         |p$r AS MATERIALIZED (
         |  SELECT p.hr, p.dow, p.n_j, p.sy, p.syy,
         |    p.f + (CASE WHEN (CASE b.feature WHEN 'hr' THEN p.hr ELSE p.dow END) <= b.fval
         |           THEN 0.25 * b.gamma_l ELSE 0.25 * b.gamma_r END) AS f
         |  FROM p${r - 1} p, bs$r b)""".stripMargin
    }
    val finalRows = (1 to rounds).map { r =>
      s"""SELECT $r AS round, b.feature, CAST(b.fval AS BIGINT) AS threshold,
         |  b.gamma_l AS gamma_left, b.gamma_r AS gamma_right,
         |  (SELECT CAST(SUM(CAST(FLOOR((CAST(syy AS DOUBLE) - 2.0 * f * CAST(sy AS DOUBLE)
         |       + CAST(n_j AS DOUBLE) * f * f) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |     / CAST(SUM(n_j) AS DOUBLE) FROM p$r) AS train_mse
         |FROM bs$r b""".stripMargin
    }
    s"""WITH ${(head +: iters).mkString(",\n")}
       |${finalRows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** MlLite.adaboostStumps replayed as chained CTEs: per round the
    * weighted-error stump argmin, the clamped ε / grid-ln α scalars
    * and the rescale mass update, then one accuracy row per round
    * over the cumulative ensemble.
    */
  private def adaboostOracleSql(rounds: Int): String = {
    val head =
      """r0 AS MATERIALIZED (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    hour(ts) AS hr, isodow(ts) AS dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS valdec
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |c0 AS MATERIALIZED (
        |  SELECT y, CAST(hr AS BIGINT) AS hr, CAST(dow AS BIGINT) AS dow,
        |    valdec, COUNT(*) AS n_j
        |  FROM r0 GROUP BY 1, 2, 3, 4),
        |nn AS MATERIALIZED (SELECT CAST(SUM(n_j) AS BIGINT) AS n FROM c0),
        |p0 AS MATERIALIZED (
        |  SELECT c0.*,
        |    FLOOR(CAST(n_j AS DOUBLE) / CAST(nn.n AS DOUBLE) * 1e12) / 1e12 AS m
        |  FROM c0, nn)""".stripMargin
    def fvalOf(alias: String) =
      s"(CASE $alias.feature WHEN 'hr' THEN p.hr WHEN 'dow' THEN p.dow ELSE p.valdec END)"
    val iters = (1 to rounds).map { r =>
      s"""pv$r AS MATERIALIZED (
         |  SELECT feature, fval,
         |    SUM(CASE WHEN y = 1 THEN CAST(m AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS mp,
         |    SUM(CASE WHEN y = 0 THEN CAST(m AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS mn
         |  FROM (SELECT y, m, 'hr' AS feature, hr AS fval FROM p${r - 1}
         |        UNION ALL SELECT y, m, 'dow', dow FROM p${r - 1}
         |        UNION ALL SELECT y, m, 'valdec', valdec FROM p${r - 1})
         |  GROUP BY 1, 2),
         |cd$r AS MATERIALIZED (
         |  SELECT pv.feature, pv.fval,
         |    SUM(mp) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS mp_le,
         |    SUM(mn) OVER (PARTITION BY pv.feature ORDER BY fval ROWS UNBOUNDED PRECEDING) AS mn_le,
         |    t.pos, t.neg, t.maxv
         |  FROM pv$r pv JOIN (
         |    SELECT feature, SUM(mp) AS pos, SUM(mn) AS neg, MAX(fval) AS maxv
         |    FROM pv$r GROUP BY 1) t ON t.feature = pv.feature),
         |ce$r AS MATERIALIZED (
         |  SELECT *,
         |    CAST(mn_le + (pos - mp_le) AS DOUBLE) AS err_a,
         |    CAST(mp_le + (neg - mn_le) AS DOUBLE) AS err_b
         |  FROM cd$r WHERE fval < maxv),
         |bs$r AS MATERIALIZED (
         |  SELECT feature, fval, NOT (err_b < err_a) AS pol_a,
         |    LEAST(err_a, err_b) AS err
         |  FROM ce$r
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY LEAST(err_a, err_b), feature, fval) = 1),
         |sa$r AS MATERIALIZED (
         |  SELECT eps, 0.5 * (FLOOR(LN((1.0 - eps) / eps) * 1e6) / 1e6) AS alpha
         |  FROM (SELECT GREATEST(CAST(0.000001 AS DOUBLE),
         |               LEAST(1.0 - CAST(0.000001 AS DOUBLE), err)) AS eps
         |        FROM bs$r)),
         |p$r AS MATERIALIZED (
         |  SELECT p.y, p.hr, p.dow, p.valdec, p.n_j,
         |    CASE WHEN (CASE WHEN b.pol_a
         |                THEN CASE WHEN ${fvalOf("b")} <= b.fval THEN 1 ELSE 0 END
         |                ELSE CASE WHEN ${fvalOf("b")} <= b.fval THEN 0 ELSE 1 END END) <> p.y
         |         THEN FLOOR(p.m / (2.0 * s.eps) * 1e12) / 1e12
         |         ELSE FLOOR(p.m / (2.0 * (1.0 - s.eps)) * 1e12) / 1e12 END AS m
         |  FROM p${r - 1} p, bs$r b, sa$r s)""".stripMargin
    }
    val finalRows = (1 to rounds).map { t =>
      val score = (1 to t).map { r =>
        s"""(CASE WHEN b$r.pol_a
           |  THEN CASE WHEN ${fvalOf(s"b$r")} <= b$r.fval THEN 1.0 ELSE -1.0 END
           |  ELSE CASE WHEN ${fvalOf(s"b$r")} <= b$r.fval THEN -1.0 ELSE 1.0 END END
           | * s$r.alpha)""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      val froms = (1 to t).map(r => s"bs$r b$r, sa$r s$r").mkString(", ")
      s"""SELECT $t AS round, bt.feature, CAST(bt.fval AS BIGINT) AS threshold,
         |  CASE WHEN bt.pol_a THEN 'A' ELSE 'B' END AS polarity,
         |  st.eps AS epsilon, st.alpha,
         |  (SELECT CAST(SUM(CASE WHEN (CASE WHEN $score > 0.0 THEN 1 ELSE 0 END) = p.y THEN p.n_j ELSE 0 END) AS DOUBLE)
         |     / CAST(SUM(p.n_j) AS DOUBLE)
         |   FROM c0 p, $froms) AS ensemble_accuracy
         |FROM bs$t bt, sa$t st""".stripMargin
    }
    s"""WITH ${(head +: iters).mkString(",\n")}
       |${finalRows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The chained-CTE fit finished with per-threshold exact confusion
    * counts (MlLite.logisticPrCurve).
    */
  private def logregPrOracleSql(rounds: Int, lr: String,
                                thresholds: Seq[Double]): String = {
    val fit = logregOracleSql(rounds, lr)
    val ctes = fit.substring(0, fit.lastIndexOf("SELECT CAST(COUNT(*)"))
    val list = thresholds.mkString(", ")
    s"""$ctes
       |SELECT threshold,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CASE WHEN tp + fp = 0 THEN 0.0
       |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |  CASE WHEN tp + fn = 0 THEN 0.0
       |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |  CASE WHEN (CASE WHEN tp + fp = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END)
       |          + (CASE WHEN tp + fn = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END) = 0.0
       |       THEN 0.0
       |       ELSE 2.0 * (CASE WHEN tp + fp = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END)
       |          * (CASE WHEN tp + fn = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END)
       |          / ((CASE WHEN tp + fp = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END)
       |           + (CASE WHEN tp + fn = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END)) END AS f1
       |FROM (
       |  SELECT t.threshold,
       |    SUM(CASE WHEN p >= t.threshold AND y = 1.0 THEN 1 ELSE 0 END) AS tp,
       |    SUM(CASE WHEN p >= t.threshold AND y = 0.0 THEN 1 ELSE 0 END) AS fp,
       |    SUM(CASE WHEN p < t.threshold AND y = 1.0 THEN 1 ELSE 0 END) AS fn
       |  FROM (SELECT r0.*,
       |          FLOOR(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3))) * 1e6) / 1e6 AS p
       |        FROM r0, w$rounds w) q
       |  CROSS JOIN (SELECT CAST(UNNEST([$list]) AS DOUBLE) AS threshold) t
       |  GROUP BY 1) agg""".stripMargin
  }

  /** Silhouette oracle: the kmeans replay extended with the full n×k
    * distance pass, the (d2f, cid) argmin, the other-centroid min and
    * the gridded per-vector s — Ann.kmeansSilhouette op-for-op.
    */
  private def kmeansSilhouetteOracleSql(k: Int, rounds: Int): String = {
    def dotSql(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"
    val body = kmeansOracleSql(k, rounds)
    val cut = body.lastIndexOf("SELECT vec_id, cid AS cluster_id, d2 FROM (")
    body.substring(0, cut).stripSuffix("\n") + ",\n" +
      s"""allF AS MATERIALIZED (
         |  SELECT b.vec_id, ct.cid,
         |    ${dotSql("ct.c", "ct.c")} - CAST(2 AS DOUBLE) * ${dotSql("b.v", "ct.c")}
         |      + ${dotSql("b.v", "b.v")} AS d2f
         |  FROM base b CROSS JOIN cent$rounds ct),
         |dd AS MATERIALIZED (
         |  SELECT *, sqrt(GREATEST(0.0, d2f)) AS dist FROM allF),
         |own AS MATERIALIZED (
         |  SELECT vec_id, cid AS cluster_id, sqrt(GREATEST(0.0, d2f)) AS a_dist
         |  FROM allF QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2f, cid) = 1),
         |oth AS MATERIALIZED (
         |  SELECT d.vec_id, o.cluster_id, o.a_dist, MIN(d.dist) AS b_dist
         |  FROM dd d JOIN own o USING (vec_id) WHERE d.cid <> o.cluster_id
         |  GROUP BY 1, 2, 3)
         |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(CAST(FLOOR((b_dist - a_dist)
         |      / NULLIF(GREATEST(a_dist, b_dist), 0.0) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / COUNT(*) AS mean_silhouette
         |FROM oth GROUP BY 1""".stripMargin
  }

  // MlLite.naiveBayes mirrored term for term — shared by the
  // per-doc prediction row and the confusion panel wrapper.
  private val nbOracleSql =
    s"""WITH tok AS (
       |  SELECT doc_id, lang AS label, UNNEST($toksSql) AS token FROM documents),
       |tok2 AS (SELECT * FROM tok WHERE token <> ''),
       |dt AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
       |ct AS (SELECT label, token, COUNT(*) AS cnt FROM tok2 GROUP BY 1, 2),
       |nd AS (SELECT COUNT(*) AS n_total FROM documents),
       |vv AS (SELECT COUNT(DISTINCT token) AS v FROM dt),
       |cp AS (
       |  SELECT c.label,
       |    FLOOR(LN(CAST(c.n_c AS DOUBLE) / CAST(nd.n_total AS DOUBLE)) * 1e6) / 1e6 AS log_prior,
       |    FLOOR(LN(CAST(tc.total_c + vv.v AS DOUBLE)) * 1e6) / 1e6 AS log_denom
       |  FROM (SELECT lang AS label, COUNT(*) AS n_c FROM documents GROUP BY 1) c, nd, vv,
       |       (SELECT label, SUM(cnt) AS total_c FROM ct GROUP BY 1) tc
       |  WHERE tc.label = c.label),
       |ms AS (
       |  SELECT dt.doc_id, ct.label,
       |    SUM(CAST(dt.tf * (FLOOR(LN(CAST(ct.cnt + 1 AS DOUBLE)) * 1e6) / 1e6) AS DECIMAL(28,6))) AS match_sum
       |  FROM dt JOIN ct ON ct.token = dt.token GROUP BY 1, 2),
       |dp AS (
       |  SELECT dt.doc_id, SUM(dt.tf) AS n_tok, MIN(d.lang) AS true_label
       |  FROM dt JOIN documents d ON d.doc_id = dt.doc_id GROUP BY 1),
       |scored AS (
       |  SELECT dp.doc_id, dp.true_label, cp.label,
       |    CAST(CAST(cp.log_prior AS DECIMAL(28,6))
       |      - CAST(dp.n_tok * cp.log_denom AS DECIMAL(28,6))
       |      + COALESCE(ms.match_sum, CAST(0 AS DECIMAL(28,6))) AS DOUBLE) AS score
       |  FROM dp CROSS JOIN cp
       |  LEFT JOIN ms ON ms.doc_id = dp.doc_id AND ms.label = cp.label),
       |rk AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn,
       |    LEAD(score, 1) OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS nxt
       |  FROM scored)
       |SELECT doc_id, true_label, label AS pred_label, score,
       |  COALESCE(score - nxt, 0.0) AS margin,
       |  label = true_label AS is_correct
       |FROM rk WHERE rn = 1""".stripMargin
}
