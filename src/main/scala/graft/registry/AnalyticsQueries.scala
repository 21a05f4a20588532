package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Temporal
import graft.operators._

import Shared._

/** Statistical analytics: time series, tests, cohorts, funnels, privacy
  * releases and drift.
  *
  * DuckDB twins of the gold analytics pack (reference:
  * docs/queries/01-05). Shared determinism rules: averages are
  * CAST(SUM(DECIMAL) AS DOUBLE)/COUNT (exact sum + one IEEE
  * division), percentiles are exact quantile_cont, every window
  * orders an aggregated frame with tie-break keys.
  */
private[graft] object AnalyticsQueries {

  def records: Seq[Query] = Seq(
    Query("ana_coverage_quartile", ((s: SparkSession, d: String) =>
      AnalyticsPack.coverageQuartile(t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"))),
      Sql(s"""WITH base AS (
         |  SELECT n_name,
         |    COUNT(DISTINCT c_custkey) AS num_clientes,
         |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS ventas_total,
         |    ${avgD("CAST(o_totalprice AS DECIMAL(18,2))", "COUNT(*)", 1)} AS ventas_por_orden
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY n_name),
         |ranked AS (
         |  SELECT *, NTILE(4) OVER (ORDER BY ventas_por_orden, n_name) AS cuartil_cobertura
         |  FROM base)
         |SELECT *,
         |  CASE cuartil_cobertura
         |    WHEN 1 THEN 'Sub-servida'
         |    WHEN 2 THEN 'Baja cobertura'
         |    WHEN 3 THEN 'Cobertura media'
         |    ELSE 'Bien servida' END AS categoria
         |FROM ranked""".stripMargin)),

    Query("ana_wait_percentiles", ((s: SparkSession, d: String) =>
      AnalyticsPack.waitPercentiles(servingValid(s, d))),
      Sql(s"""SELECT event_type_norm AS mode_code,
         |  COUNT(*) AS validaciones,
         |  ${avgD("CAST(value AS DECIMAL(18,2))", "COUNT(*)", 2)} AS espera_promedio_min,
         |  ROUND(quantile_cont(value, 0.5), 2) AS espera_mediana_min,
         |  ROUND(quantile_cont(value, 0.9), 2) AS espera_p90_min,
         |  ${avgD("CASE WHEN tipo_dia = 'LABORAL' THEN CAST(value AS DECIMAL(18,2)) END",
               "COUNT(CASE WHEN tipo_dia = 'LABORAL' THEN 1 END)", 2)} AS espera_laboral,
         |  ${avgD("CASE WHEN tipo_dia = 'DOMINGO' THEN CAST(value AS DECIMAL(18,2)) END",
               "COUNT(CASE WHEN tipo_dia = 'DOMINGO' THEN 1 END)", 2)} AS espera_domingo
         |FROM ($servingValidSql)
         |WHERE value IS NOT NULL AND value BETWEEN 0 AND 450
         |GROUP BY event_type_norm""".stripMargin)),

    Query("ana_user_segments", ((s: SparkSession, d: String) =>
      AnalyticsPack.userSegments(servingValid(s, d))),
      Sql(s"""WITH daily AS (
         |  SELECT user_id, date_sk, COUNT(*) AS viajes_en_dia
         |  FROM ($servingValidSql)
         |  WHERE tipo_dia = 'LABORAL' AND user_id IS NOT NULL
         |  GROUP BY user_id, date_sk),
         |per_user AS (
         |  SELECT user_id,
         |    ROUND(CAST(SUM(viajes_en_dia) AS DOUBLE) / COUNT(*), 2) AS viajes_x_dia_laboral,
         |    COUNT(*) AS dias_con_actividad
         |  FROM daily GROUP BY user_id
         |  HAVING COUNT(*) >= 3),
         |seg AS (
         |  SELECT
         |    CASE WHEN viajes_x_dia_laboral >= 6 THEN '>=6 (extremo cautivo)'
         |         WHEN viajes_x_dia_laboral >= 4 THEN '4-5 (cautivo)'
         |         WHEN viajes_x_dia_laboral >= 2 THEN '2-3 (regular)'
         |         ELSE '1 (esporadico)' END AS segmento_uso,
         |    COUNT(*) AS tarjetas,
         |    ${avgD("CAST(viajes_x_dia_laboral AS DECIMAL(18,2))", "COUNT(*)", 2)} AS media_viajes_dia,
         |    ROUND(CAST(SUM(dias_con_actividad) AS DOUBLE) / COUNT(*), 1) AS dias_activos_promedio
         |  FROM per_user GROUP BY 1)
         |SELECT segmento_uso, tarjetas, media_viajes_dia, dias_activos_promedio,
         |  ROUND(100.0 * tarjetas / SUM(tarjetas) OVER (), 2) AS pct_tarjetas
         |FROM seg""".stripMargin)),

    Query("ana_pct_of_total", ((s: SparkSession, d: String) =>
      AnalyticsPack.pctOfTotal(t(s, d, "lineitem"))),
      Sql(s"""WITH seg AS (
         |  SELECT l_linenumber AS num_etapas, COUNT(*) AS viajes,
         |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS demanda_expandida,
         |    ${avgD("CAST(l_extendedprice AS DECIMAL(18,2))", "COUNT(*)", 1)} AS precio_promedio,
         |    ${avgD("CAST(l_discount AS DECIMAL(18,2))", "COUNT(*)", 3)} AS descuento_promedio
         |  FROM lineitem GROUP BY 1)
         |SELECT num_etapas, viajes, demanda_expandida, precio_promedio, descuento_promedio,
         |  ROUND(100.0 * viajes / SUM(viajes) OVER (), 2) AS pct_total
         |FROM seg""".stripMargin)),

    Query("ana_demand_pivot_30m", ((s: SparkSession, d: String) =>
      AnalyticsPack.demandPivot30m(servingValid(s, d))),
      Sql(s"""SELECT time_30m_sk, subidas_laboral, subidas_sabado, subidas_domingo,
         |  ROUND(100.0 * subidas_laboral / NULLIF(subidas_domingo, 0) - 100, 1)
         |    AS pct_laboral_vs_domingo
         |FROM (
         |  SELECT time_30m_sk,
         |    CAST(COALESCE(ROUND(SUM(CASE WHEN tipo_dia = 'LABORAL' THEN CAST(value AS DECIMAL(18,2)) END), 2), 0) AS DOUBLE) AS subidas_laboral,
         |    CAST(COALESCE(ROUND(SUM(CASE WHEN tipo_dia = 'SABADO' THEN CAST(value AS DECIMAL(18,2)) END), 2), 0) AS DOUBLE) AS subidas_sabado,
         |    CAST(COALESCE(ROUND(SUM(CASE WHEN tipo_dia = 'DOMINGO' THEN CAST(value AS DECIMAL(18,2)) END), 2), 0) AS DOUBLE) AS subidas_domingo
         |  FROM ($servingValidSql) GROUP BY time_30m_sk)""".stripMargin)),

    Query("ana_daily_delta", ((s: SparkSession, d: String) =>
      AnalyticsPack.dailyDelta(servingValid(s, d))),
      Sql(s"""WITH byday AS (
         |  SELECT date_sk, tipo_dia,
         |    COUNT(DISTINCT user_id) AS tarjetas_unicas,
         |    COUNT(*) AS viajes_muestra,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS demanda_expandida
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2)
         |SELECT *,
         |  ROUND(demanda_expandida - LAG(demanda_expandida) OVER (ORDER BY date_sk), 2)
         |    AS delta_vs_dia_anterior
         |FROM byday""".stripMargin)),

    // CUSUM mean-shift curve over daily demand; argmax day flagged.
    Query("ana_changepoint_cusum", ((s: SparkSession, d: String) =>
      AnalyticsPack.changepointCusum(servingValid(s, d))),
      Sql(s"""WITH byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |st AS (
         |  SELECT CAST(SUM(CAST(daily_value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_value
         |  FROM byday),
         |dev AS (
         |  SELECT date_sk, daily_value, daily_value - mean_value AS deviation
         |  FROM byday CROSS JOIN st),
         |cum AS (
         |  SELECT *, CAST(SUM(CAST(floor(deviation * 1e6) / 1e6 AS DECIMAL(28,6)))
         |      OVER (ORDER BY date_sk) AS DOUBLE) AS cusum
         |  FROM dev),
         |pk AS (SELECT MAX(abs(cusum)) AS max_abs FROM cum)
         |SELECT date_sk, daily_value, deviation, cusum,
         |  abs(cusum) = max_abs AS is_changepoint
         |FROM cum CROSS JOIN pk""".stripMargin)),

    // Binary-segmentation changepoint LOCATION: per candidate split
    // day the exact two-mean SSE reduction from the prefix-sum
    // identity, argmax flagged — the estimator next to cusum's
    // detector.
    Query("ana_changepoint_binseg", ((s: SparkSession, d: String) =>
      AnalyticsPack.changepointBinseg(servingValid(s, d))),
      // AnalyticsPack.changepointBinseg mirrored: same byday panel as
      // cusum, day-ordered DECIMAL prefix sums, the prefix-sum SSE
      // identity as the identical double expression tree, argmax by
      // exact-double equality.
      Sql(s"""WITH byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |pre AS (
         |  SELECT date_sk,
         |    CAST(SUM(CAST(daily_value AS DECIMAL(28,6)))
         |      OVER (ORDER BY date_sk) AS DOUBLE) AS sl,
         |    COUNT(*) OVER (ORDER BY date_sk) AS n_left
         |  FROM byday),
         |tot AS (
         |  SELECT CAST(SUM(CAST(daily_value AS DECIMAL(28,6))) AS DOUBLE) AS s,
         |    COUNT(*) AS n
         |  FROM byday),
         |g AS (
         |  SELECT date_sk, n_left, n - n_left AS n_right, sl, s - sl AS sr, s, n
         |  FROM pre CROSS JOIN tot
         |  WHERE n - n_left > 0),
         |gains AS (
         |  SELECT date_sk AS split_after_date_sk,
         |    CAST(n_left AS BIGINT) AS n_left,
         |    CAST(n_right AS BIGINT) AS n_right,
         |    sl / CAST(n_left AS DOUBLE) AS mean_left,
         |    sr / CAST(n_right AS DOUBLE) AS mean_right,
         |    sl * sl / CAST(n_left AS DOUBLE)
         |      + sr * sr / CAST(n_right AS DOUBLE)
         |      - s * s / CAST(n AS DOUBLE) AS sse_reduction
         |  FROM g),
         |best AS (SELECT MAX(sse_reduction) AS b FROM gains)
         |SELECT split_after_date_sk, n_left, n_right, mean_left, mean_right,
         |  sse_reduction, sse_reduction = b AS is_split
         |FROM gains CROSS JOIN best""".stripMargin)),

    // 10-90% trimmed mean of value per event type — the robust KPI
    // between mean and median; exact rank brackets, boundary kept.
    Query("ana_trimmed_mean", ((s: SparkSession, d: String) =>
      AnalyticsPack.trimmedMean(t(s, d, "events"),
        upper(trim(col("event_type"))), "value", pLo = 0.1, pHi = 0.9)),
      // AnalyticsPack.trimmedMean mirrored: quantile_cont brackets
      // (the table_quantiles interpolation identity), boundary rows
      // kept, both means as gridded DECIMAL(28,6) sums over doubles.
      Sql("""WITH l AS (
        |  SELECT UPPER(TRIM(event_type)) AS group_key,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_total,
        |    quantile_cont(v, 0.1) AS q_lo, quantile_cont(v, 0.9) AS q_hi,
        |    CAST(SUM(CAST(FLOOR(v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS rs
        |  FROM l GROUP BY 1),
        |k AS (
        |  SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    CAST(SUM(CAST(FLOOR(v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS ts
        |  FROM l JOIN f USING (group_key)
        |  WHERE v >= q_lo AND v <= q_hi GROUP BY 1)
        |SELECT group_key, n_total,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept, q_lo, q_hi,
        |  rs / CAST(n_total AS DOUBLE) AS raw_mean,
        |  ts / CAST(k.n_kept AS DOUBLE) AS trimmed_mean
        |FROM f LEFT JOIN k USING (group_key)""".stripMargin)),

    // Periodogram over the daily series: squared Fourier magnitude at
    // candidate periods 2..14 days on the mean-centered panel —
    // MEASURE the dominant cycle the seasonal ops assume.
    Query("ana_periodogram", ((s: SparkSession, d: String) =>
      AnalyticsPack.periodogram(servingValid(s, d))),
      // AnalyticsPack.periodogram mirrored: the byday panel, exact
      // date-index arithmetic, q6 trig cells re-gridded with the
      // centered series before DECIMAL(28,6) partials, mirrored power.
      Sql({
      val body = (2 to 14).map { p =>
        val pd = s"${p.toDouble}"
        def cell(fn: String) =
          s"CAST(FLOOR((FLOOR($fn(6.283185307179586 * idx / $pd) * 1e6) / 1e6) * yc * 1e6) / 1e6 AS DECIMAL(28,6))"
        s"""SELECT $p AS period_days, MAX(n_days) AS n_days,
           |  CAST(COALESCE(SUM(${cell("COS")}), 0) AS DOUBLE) AS cos_sum,
           |  CAST(COALESCE(SUM(${cell("SIN")}), 0) AS DOUBLE) AS sin_sum,
           |  (CAST(COALESCE(SUM(${cell("COS")}), 0) AS DOUBLE)
           |     * CAST(COALESCE(SUM(${cell("COS")}), 0) AS DOUBLE)
           |   + CAST(COALESCE(SUM(${cell("SIN")}), 0) AS DOUBLE)
           |     * CAST(COALESCE(SUM(${cell("SIN")}), 0) AS DOUBLE))
           |  / CAST(MAX(n_days) AS DOUBLE) AS power
           |FROM base""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |st AS (
         |  SELECT MIN(date_sk) AS d0, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m
         |  FROM byday),
         |base AS (
         |  SELECT date_sk, y,
         |    CAST(date_diff('day', strptime(CAST(d0 AS VARCHAR), '%Y%m%d'),
         |      strptime(CAST(date_sk AS VARCHAR), '%Y%m%d')) AS DOUBLE) AS idx,
         |    y - m AS yc, n_days
         |  FROM byday CROSS JOIN st),
         |pan AS (
         |$body
         |),
         |best AS (SELECT MAX(power) AS b FROM pan)
         |SELECT period_days, n_days, cos_sum, sin_sum, power,
         |  power = b AS is_dominant
         |FROM pan CROSS JOIN best""".stripMargin
    })),

    // Hurst exponent via rescaled range: per window size the mean R/S
    // over complete blocks, H from the log-log OLS — random walk at
    // 0.5, persistence above, mean reversion below.
    Query("ana_hurst", ((s: SparkSession, d: String) =>
      AnalyticsPack.hurstExponent(servingValid(s, d),
        windows = Seq(4, 8, 16, 32))),
      // AnalyticsPack.hurstExponent mirrored: indexed day panel,
      // FLOOR block ids, block-partitioned decimal prefix sums, the
      // mirrored R/S and variance trees, zipf-grid OLS for H.
      Sql({
      val ws = Seq(4, 8, 16, 32)
      val blocks = ws.zipWithIndex.map { case (w, i) =>
        val wd = s"${w.toDouble}"
        s"""bl_$i AS (
           |  SELECT *, CAST(FLOOR(idx / $wd) AS BIGINT) AS b FROM indexed),
           |sz_$i AS (
           |  SELECT b FROM bl_$i GROUP BY 1 HAVING COUNT(*) = $w),
           |full_$i AS (SELECT bl_$i.* FROM bl_$i JOIN sz_$i USING (b)),
           |st_$i AS (
           |  SELECT b,
           |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / $wd AS m,
           |    (CAST(SUM(CAST(FLOOR(y * y * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
           |      - CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
           |        * CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / $wd)
           |      / $wd AS v
           |  FROM full_$i GROUP BY 1),
           |cum_$i AS (
           |  SELECT f.b, st_$i.v,
           |    CAST(SUM(CAST(f.y AS DECIMAL(28,6)))
           |      OVER (PARTITION BY f.b ORDER BY f.idx) AS DOUBLE)
           |      - CAST(COUNT(*) OVER (PARTITION BY f.b ORDER BY f.idx) AS DOUBLE)
           |        * st_$i.m AS cum
           |  FROM full_$i f JOIN st_$i USING (b)),
           |rs_$i AS (
           |  SELECT b, (MAX(cum) - MIN(cum)) / sqrt(v) AS rs
           |  FROM cum_$i WHERE v > 0.0 GROUP BY b, v),
           |pw_$i AS (
           |  SELECT $w AS window_days,
           |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
           |    CASE WHEN COUNT(*) > 0 THEN
           |      CAST(COALESCE(SUM(CAST(FLOOR(rs * 1e6) / 1e6 AS DECIMAL(28,6))), 0) AS DOUBLE)
           |        / CAST(COUNT(*) AS DOUBLE)
           |    END AS mean_rs
           |  FROM rs_$i)""".stripMargin
      }
      val union = ws.indices.map(i => s"SELECT * FROM pw_$i")
        .mkString("\nUNION ALL\n")
      s"""WITH byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |indexed AS (
         |  SELECT date_sk, y,
         |    CAST(date_diff('day', strptime(CAST(d0 AS VARCHAR), '%Y%m%d'),
         |      strptime(CAST(date_sk AS VARCHAR), '%Y%m%d')) AS BIGINT) AS idx
         |  FROM byday CROSS JOIN (SELECT MIN(date_sk) AS d0 FROM byday)),
         |${blocks.mkString(",\n")},
         |perw AS (
         |$union
         |),
         |pts AS (
         |  SELECT FLOOR(LN(CAST(window_days AS DOUBLE)) * 1e6) / 1e6 AS lx,
         |    FLOOR(LN(mean_rs) * 1e6) / 1e6 AS ly
         |  FROM perw WHERE n_blocks > 0 AND mean_rs > 0.0),
         |moms AS (
         |  SELECT COUNT(*) AS k,
         |    SUM(CAST(FLOOR(lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sx,
         |    SUM(CAST(FLOOR(ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sy,
         |    SUM(CAST(FLOOR(lx * ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxy,
         |    SUM(CAST(FLOOR(lx * lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxx
         |  FROM pts),
         |fit AS (
         |  SELECT (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / NULLIF(k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
         |    AS hurst_h
         |  FROM moms)
         |SELECT window_days, n_blocks, mean_rs, hurst_h
         |FROM perw CROSS JOIN fit""".stripMargin
    })),

    // DP mean release: values clamped to [0,100], budget split over
    // the clamped sum and the count, both noised by the deterministic
    // md5 Laplace draw (salted per statistic) — the value sibling of
    // privacy_dp_release.
    Query("privacy_dp_mean", ((s: SparkSession, d: String) =>
      Audit.dpNoisyMean(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            col("value")),
        Seq("hour_band", "iso_dow"), "value",
        lo = 0.0, hi = 100.0, epsilon = 1.0)),
      // Laplace DP release replay: the md5-32 uniform, the inverse-CDF
      // draw with the ln floor-quantized on the group panel (§5), the
      // clamped floor release; b = sensitivity/epsilon = 2.0 exact.
      // Audit.dpNoisyMean mirrored: clamp-grid-decimal sum, two salted
      // md5 Laplace draws, the floored-denominator mean.
      Sql("""WITH g AS (
        |  SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(FLOOR(LEAST(100.0, GREATEST(0.0, CAST(value AS DOUBLE))) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DOUBLE) AS clamped_sum
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT *,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR), 'sum')), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS us,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR), 'cnt')), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS uc
        |  FROM g),
        |n AS (
        |  SELECT hour_band, iso_dow, n_rows, clamped_sum,
        |    FLOOR((-200.0) * (CASE WHEN us < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(us - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise_sum,
        |    FLOOR((-2.0) * (CASE WHEN uc < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(uc - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise_cnt
        |  FROM d)
        |SELECT hour_band, iso_dow, n_rows, clamped_sum, noise_sum, noise_cnt,
        |  (clamped_sum + noise_sum)
        |    / GREATEST(1.0, CAST(n_rows AS DOUBLE) + noise_cnt) AS released_mean
        |FROM n""".stripMargin)),

    // Entropy rate of the user-journey Markov chain (π weighted by
    // out-transition mass, so the sum is n_ij/N over the transition
    // panel) + perplexity — the predictability scalar over
    // ana_transition_matrix.
    Query("ana_markov_entropy", ((s: SparkSession, d: String) =>
      AnalyticsPack.markovEntropyRate(t(s, d, "events"))),
      // AnalyticsPack.markovEntropyRate mirrored: the transition panel
      // as above, per-cell gridded ln terms re-gridded before the
      // DECIMAL(28,6) sum, one mirrored exp at the edge.
      Sql("""WITH e AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |tr AS (
        |  SELECT et AS from_type,
        |    LEAD(et) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS total_from
        |      FROM c GROUP BY 1),
        |tm AS (
        |  SELECT from_type, to_type, n, n / total_from AS p
        |  FROM c JOIN t USING (from_type)),
        |st AS (
        |  SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_states FROM (
        |    SELECT from_type AS s FROM tm
        |    UNION ALL SELECT to_type FROM tm)),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM tm),
        |h AS (
        |  SELECT
        |    COALESCE(CAST(SUM(CAST(FLOOR((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (FLOOR(ln(p) * 1e6) / 1e6) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DECIMAL(28,6)), 0) AS hsum,
        |    MAX(nt) AS n_transitions
        |  FROM tm CROSS JOIN tot)
        |SELECT n_transitions, n_states,
        |  -CAST(hsum AS DOUBLE) AS entropy_rate_nats,
        |  FLOOR(EXP(-CAST(hsum AS DOUBLE)) * 1e6) / 1e6 AS perplexity
        |FROM h CROSS JOIN st""".stripMargin)),

    // Per-type OLS daily trend (slope + intercept from exact moments).
    Query("ana_trend_slope", ((s: SparkSession, d: String) =>
      AnalyticsPack.trendSlope(servingValid(s, d))),
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |idx AS (
         |  SELECT event_type_norm,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type_norm ORDER BY date_sk) - 1 AS BIGINT) AS x,
         |    y
         |  FROM byday),
         |moms AS (
         |  SELECT event_type_norm, COUNT(*) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx,
         |    SUM(CAST(y AS DECIMAL(28,6))) AS sy,
         |    SUM(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(28,6))) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM idx GROUP BY 1),
         |sl AS (
         |  SELECT event_type_norm, n_days, sx, sy,
         |    (n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / NULLIF(n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope
         |  FROM moms)
         |SELECT event_type_norm, n_days, slope,
         |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_days AS intercept
         |FROM sl""".stripMargin)),

    // Holt level+trend smoother (dyadic coefficients, panel fold) —
    // the trend-tracking twin of ana_ewma_demand.
    Query("ana_holt_linear", ((s: SparkSession, d: String) =>
      AnalyticsPack.holtDemand(servingValid(s, d))),
      Sql(s"""WITH RECURSIVE byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |idx AS (
         |  SELECT date_sk, daily_value,
         |    ROW_NUMBER() OVER (ORDER BY date_sk) AS rn
         |  FROM byday),
         |walk(rn, date_sk, daily_value, level, trend) AS (
         |  SELECT rn, date_sk, daily_value, daily_value, 0e0 FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend),
         |    0.125e0 * ((0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend)) - w.level)
         |      + 0.875e0 * w.trend
         |  FROM idx i JOIN walk w ON i.rn = w.rn + 1)
         |SELECT date_sk, daily_value, level, trend,
         |  level + trend AS forecast_next
         |FROM walk""".stripMargin)),

    // Holt–Winters additive triple smoothing (m=7): the seasonal
    // state absorbs the weekly dip Holt keeps re-reading as a trend
    // change. One panel fold, dyadic coefficients, the seasonal lag
    // read from the fold's own history.
    Query("ana_holt_winters", ((s: SparkSession, d: String) =>
      AnalyticsPack.holtWinters(servingValid(s, d))),
      // Holt–Winters replay: the recursive walk carries the last
      // seven seasonals as a LIST column (hist[1] = s_{t-7},
      // hist[2] = s_{t-6}); the level formula is repeated textually
      // inside the trend/seasonal/forecast terms (the Holt oracle's
      // precedent) so the op order matches the fold bit-for-bit.
      Sql(s"""WITH RECURSIVE byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |idx AS (
         |  SELECT date_sk, daily_value,
         |    ROW_NUMBER() OVER (ORDER BY date_sk) AS rn
         |  FROM byday),
         |walk(rn, date_sk, daily_value, level, trend, seasonal, forecast_next, hist) AS (
         |  SELECT rn, date_sk, daily_value, daily_value, 0e0, 0e0, daily_value,
         |    [0e0, 0e0, 0e0, 0e0, 0e0, 0e0, 0e0]
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend),
         |    0.125e0 * ((0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)) - w.level)
         |      + 0.875e0 * w.trend,
         |    0.25e0 * (i.daily_value - (0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)))
         |      + 0.75e0 * w.hist[1],
         |    (0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend))
         |      + (0.125e0 * ((0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)) - w.level)
         |         + 0.875e0 * w.trend)
         |      + w.hist[2],
         |    w.hist[2:7] ||
         |      [0.25e0 * (i.daily_value - (0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)))
         |       + 0.75e0 * w.hist[1]]
         |  FROM idx i JOIN walk w ON i.rn = w.rn + 1)
         |SELECT date_sk, daily_value, level, trend, seasonal, forecast_next
         |FROM walk""".stripMargin)),

    // One-step model evaluation: Holt and Holt-Winters forecasts
    // scored against the next observed day — the model side of the
    // baseline backtest ("does the model beat lag-7").
    Query("ana_forecast_eval_models", ((s: SparkSession, d: String) =>
      AnalyticsPack.forecastEvalModels(servingValid(s, d))),
      // Holt recursion replayed with the NEW level's formula repeated
      // inside the trend term — identical op order to the Spark fold.
      // Model-evaluation replay: both recursive walks, LEAD for the
      // next observed actual, grid-quantized error partials.
      Sql(s"""WITH RECURSIVE byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |idx AS (
         |  SELECT date_sk, daily_value,
         |    ROW_NUMBER() OVER (ORDER BY date_sk) AS rn
         |  FROM byday),
         |hwalk(rn, date_sk, daily_value, level, trend) AS (
         |  SELECT rn, date_sk, daily_value, daily_value, 0e0 FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend),
         |    0.125e0 * ((0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend)) - w.level)
         |      + 0.875e0 * w.trend
         |  FROM idx i JOIN hwalk w ON i.rn = w.rn + 1),
         |wwalk(rn, date_sk, daily_value, level, trend, forecast_next, hist) AS (
         |  SELECT rn, date_sk, daily_value, daily_value, 0e0, daily_value,
         |    [0e0, 0e0, 0e0, 0e0, 0e0, 0e0, 0e0]
         |  FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend),
         |    0.125e0 * ((0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)) - w.level)
         |      + 0.875e0 * w.trend,
         |    (0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend))
         |      + (0.125e0 * ((0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)) - w.level)
         |         + 0.875e0 * w.trend)
         |      + w.hist[2],
         |    w.hist[2:7] ||
         |      [0.25e0 * (i.daily_value - (0.25e0 * (i.daily_value - w.hist[1]) + 0.75e0 * (w.level + w.trend)))
         |       + 0.75e0 * w.hist[1]]
         |  FROM idx i JOIN wwalk w ON i.rn = w.rn + 1),
         |hev AS (
         |  SELECT daily_value, level + trend AS forecast_next,
         |    LEAD(daily_value, 1) OVER (ORDER BY date_sk) AS actual_next
         |  FROM hwalk),
         |wev AS (
         |  SELECT daily_value, forecast_next,
         |    LEAD(daily_value, 1) OVER (ORDER BY date_sk) AS actual_next
         |  FROM wwalk)
         |SELECT 'holt_linear' AS method,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CAST(FLOOR(ABS(actual_next - forecast_next) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / COUNT(*) AS mae,
         |  CAST(SUM(CAST(FLOOR((actual_next - forecast_next) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / COUNT(*) AS bias,
         |  CAST(SUM(CASE WHEN actual_next <> 0 THEN
         |      CAST(FLOOR(ABS(actual_next - forecast_next) / actual_next * 1e6) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE)
         |    / SUM(CASE WHEN actual_next <> 0 THEN 1 END) AS mape
         |FROM hev WHERE actual_next IS NOT NULL
         |UNION ALL
         |SELECT 'holt_winters',
         |  CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM(CAST(FLOOR(ABS(actual_next - forecast_next) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / COUNT(*),
         |  CAST(SUM(CAST(FLOOR((actual_next - forecast_next) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / COUNT(*),
         |  CAST(SUM(CASE WHEN actual_next <> 0 THEN
         |      CAST(FLOOR(ABS(actual_next - forecast_next) / actual_next * 1e6) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE)
         |    / SUM(CASE WHEN actual_next <> 0 THEN 1 END)
         |FROM wev WHERE actual_next IS NOT NULL""".stripMargin)),

    // Seasonality-aware one-step forecast: the Holt level+trend
    // forecast plus the F27 seasonal index of the NEXT day's weekday
    // — a pure composition of two green operators, so the oracle is
    // the composition of their oracles.
    Query("ana_seasonal_forecast", ((s: SparkSession, d: String) => {
      import graft.functions.Temporal
      val holt = AnalyticsPack.holtDemand(servingValid(s, d))
        .withColumn("day", to_date(col("date_sk").cast("string"), "yyyyMMdd"))
        .withColumn("next_day", date_add(col("day"), 1))
        .withColumn("next_iso_dow", Temporal.isoDow(col("next_day")))
      val seasonal = AnalyticsPack.seasonalDecompose(t(s, d, "events"))
        .select(col("iso_dow").as("next_iso_dow"), col("seasonal"))
        .distinct()
      holt.join(broadcast(seasonal), Seq("next_iso_dow"), "left")
        .select(col("date_sk"), col("daily_value"), col("level"), col("trend"),
          col("next_day"),
          (col("level") + col("trend")).as("trend_forecast"),
          when(col("seasonal").isNotNull,
            col("level") + col("trend") + col("seasonal"))
            .as("seasonal_forecast"))
    }),
      // Recursive-CTE replay of the EWMA fold: every step is two
      // correctly-rounded IEEE ops on dyadic constants (0.25e0 /
      // 0.75e0 force DOUBLE literals — a bare 0.25 parses as DECIMAL
      // in DuckDB and would change the arithmetic).
      // Composition of the Holt walk (validSql day panel) and the F27
      // seasonal panel (raw-events day panel) — both replayed as in
      // their own oracles, joined on the NEXT day's iso weekday.
      Sql(s"""WITH RECURSIVE byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |idx AS (
         |  SELECT date_sk, daily_value,
         |    ROW_NUMBER() OVER (ORDER BY date_sk) AS rn
         |  FROM byday),
         |walk(rn, date_sk, daily_value, level, trend) AS (
         |  SELECT rn, date_sk, daily_value, daily_value, 0e0 FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend),
         |    0.125e0 * ((0.25e0 * i.daily_value + 0.75e0 * (w.level + w.trend)) - w.level)
         |      + 0.875e0 * w.trend
         |  FROM idx i JOIN walk w ON i.rn = w.rn + 1),
         |daily AS (
         |  SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS dem
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |d2 AS (SELECT *, CAST(isodow(day) AS INTEGER) AS iso_dow FROM daily),
         |tr AS (
         |  SELECT *, CASE WHEN COUNT(*) OVER wd = 7
         |    THEN CAST(SUM(dem) OVER wd AS DOUBLE) / 7.0 END AS trend_ma
         |  FROM d2 WINDOW wd AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |se AS (
         |  SELECT iso_dow,
         |    CAST(SUM(CAST(floor((CAST(dem AS DOUBLE) - trend_ma) * 1e6) / 1e6
         |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS seasonal
         |  FROM tr WHERE trend_ma IS NOT NULL GROUP BY 1)
         |SELECT w.date_sk, w.daily_value, w.level, w.trend,
         |  CAST(strptime(CAST(w.date_sk AS VARCHAR), '%Y%m%d') AS DATE) + 1 AS next_day,
         |  w.level + w.trend AS trend_forecast,
         |  CASE WHEN se.seasonal IS NOT NULL THEN w.level + w.trend + se.seasonal END AS seasonal_forecast
         |FROM walk w
         |LEFT JOIN se ON se.iso_dow = CAST(isodow(
         |  CAST(strptime(CAST(w.date_sk AS VARCHAR), '%Y%m%d') AS DATE) + 1) AS INTEGER)""".stripMargin)),

    // Gini concentration of per-stop demand by day type (rank identity
    // over the collapsed stop panel; one terminal IEEE division).
    Query("ana_gini_demand", ((s: SparkSession, d: String) =>
      AnalyticsPack.giniDemand(servingValid(s, d))),
      Sql(s"""WITH perstop AS (
         |  SELECT tipo_dia, user_id AS stop_code,
         |    COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS x
         |  FROM ($servingValidSql) WHERE user_id IS NOT NULL AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT tipo_dia, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY tipo_dia ORDER BY x, stop_code) AS BIGINT) AS i
         |  FROM perstop),
         |agg AS (
         |  SELECT tipo_dia, COUNT(*) AS n_stops, SUM(x) AS total, SUM(i * x) AS wsum
         |  FROM ranked GROUP BY 1)
         |SELECT tipo_dia, n_stops,
         |  CAST(total AS DOUBLE) AS total_demand,
         |  CASE WHEN total > 0 THEN
         |    CAST(2 * wsum - (n_stops + 1) * total AS DOUBLE)
         |      / CAST(n_stops * total AS DOUBLE)
         |  END AS gini
         |FROM agg""".stripMargin)),

    // Median-of-pairwise-slopes robust trend (Theil–Sen) per type —
    // the outlier-immune twin of ana_trend_slope.
    Query("ana_theil_sen", ((s: SparkSession, d: String) =>
      AnalyticsPack.theilSen(servingValid(s, d))),
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |idx AS (
         |  SELECT event_type_norm,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type_norm ORDER BY date_sk) - 1 AS BIGINT) AS x,
         |    y
         |  FROM byday),
         |sl AS (
         |  SELECT a.event_type_norm AS event_type_norm, a.x AS xa, b.x AS xb,
         |    FLOOR(((b.y - a.y) / CAST(b.x - a.x AS DOUBLE)) * 1e6) / 1e6 AS slope_q
         |  FROM idx a JOIN idx b
         |    ON a.event_type_norm = b.event_type_norm AND a.x < b.x),
         |ranked AS (
         |  SELECT event_type_norm, slope_q,
         |    ROW_NUMBER() OVER (PARTITION BY event_type_norm ORDER BY slope_q, xa, xb) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type_norm) AS m
         |  FROM sl)
         |SELECT event_type_norm, MAX(m) AS n_pairs,
         |  SUM(slope_q) / COUNT(*) AS ts_slope
         |FROM ranked
         |WHERE rn = FLOOR((m + 1) / 2.0) OR rn = FLOOR((m + 2) / 2.0)
         |GROUP BY 1""".stripMargin)),

    // Per-stop robust trends (the F32 panel at stop grain): pair
    // fan-out stays days² per stop, windows partition per stop.
    Query("ana_theil_sen_stop", ((s: SparkSession, d: String) =>
      AnalyticsPack.theilSenBy(
        servingValid(s, d).filter(col("user_id").isNotNull), "user_id")),
      Sql(s"""WITH byday AS (
         |  SELECT user_id, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL AND user_id IS NOT NULL
         |  GROUP BY 1, 2),
         |idx AS (
         |  SELECT user_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date_sk) - 1 AS BIGINT) AS x,
         |    y
         |  FROM byday),
         |sl AS (
         |  SELECT a.user_id AS user_id, a.x AS xa, b.x AS xb,
         |    FLOOR(((b.y - a.y) / CAST(b.x - a.x AS DOUBLE)) * 1e6) / 1e6 AS slope_q
         |  FROM idx a JOIN idx b
         |    ON a.user_id = b.user_id AND a.x < b.x),
         |ranked AS (
         |  SELECT user_id, slope_q,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope_q, xa, xb) AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS m
         |  FROM sl)
         |SELECT user_id, MAX(m) AS n_pairs,
         |  SUM(slope_q) / COUNT(*) AS ts_slope
         |FROM ranked
         |WHERE rn = FLOOR((m + 1) / 2.0) OR rn = FLOOR((m + 2) / 2.0)
         |GROUP BY 1""".stripMargin)),

    // EWMA level smoother over the daily demand series (α = 0.25,
    // dyadic-exact; the fold runs once over the collected day panel).
    Query("ana_ewma_demand", ((s: SparkSession, d: String) =>
      AnalyticsPack.ewmaDemand(servingValid(s, d))),
      Sql(s"""WITH RECURSIVE byday AS (
         |  SELECT date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS daily_value
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1),
         |idx AS (
         |  SELECT date_sk, daily_value,
         |    ROW_NUMBER() OVER (ORDER BY date_sk) AS rn
         |  FROM byday),
         |walk(rn, date_sk, daily_value, ewma) AS (
         |  SELECT rn, date_sk, daily_value, daily_value FROM idx WHERE rn = 1
         |  UNION ALL
         |  SELECT i.rn, i.date_sk, i.daily_value,
         |    0.25e0 * i.daily_value + 0.75e0 * w.ewma
         |  FROM idx i JOIN walk w ON i.rn = w.rn + 1)
         |SELECT date_sk, daily_value, ewma FROM walk""".stripMargin)),

    Query("ana_od_matrix", ((s: SparkSession, d: String) =>
      AnalyticsPack.odMatrix(t(s, d, "lineitem"), t(s, d, "orders"),
        t(s, d, "customer"), t(s, d, "supplier"), t(s, d, "nation"))),
      Sql("""SELECT sn.n_name AS zona_origen, cn.n_name AS zona_destino,
        |  COUNT(*) AS viajes_totales,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS demanda_expandida,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0), 2) AS qty_promedio
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2
        |ORDER BY demanda_expandida DESC, zona_origen, zona_destino
        |LIMIT 30""".stripMargin)),

    // Top 3-step event-type paths per user stream (sequence mining;
    // integer-exact, total-ordered top-N).
    Query("ana_top_paths", ((s: SparkSession, d: String) =>
      AnalyticsPack.topPaths(t(s, d, "events"))),
      // Integer-exact sequence mining: lead-window 3-grams per user,
      // total-ordered top-N.
      Sql("""WITH seqs AS (
        |  SELECT user_id, event_type AS e1,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL)
        |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM seqs WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, e1, e2, e3
        |LIMIT 20""".stripMargin)),

    // Churn survival curve: per-day hazard + cumulative log-survival
    // over the per-user last-active-day panel (KM discipline, log
    // space, no exp).
    Query("ana_survival_curve", ((s: SparkSession, d: String) =>
      AnalyticsPack.survivalCurve(t(s, d, "events"))),
      // KM churn curve: suffix at-risk counts, quantized ln(1-h),
      // decimal-accumulated cumulative log-survival; the closed
      // window's final day (hazard 1) is NULL by definition.
      Sql("""WITH lastday AS (
        |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |churn AS (
        |  SELECT last_day, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM lastday GROUP BY 1),
        |risk AS (
        |  SELECT last_day, n_churned,
        |    CAST(SUM(n_churned) OVER (ORDER BY last_day DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
        |  FROM churn),
        |hz AS (
        |  SELECT last_day, n_churned, n_at_risk,
        |    CAST(n_churned AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard,
        |    CASE WHEN n_churned < n_at_risk THEN
        |      FLOOR(LN(1.0 - CAST(n_churned AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) * 1e6) / 1e6
        |    END AS l1m
        |  FROM risk)
        |SELECT last_day, n_churned, n_at_risk, hazard,
        |  CASE WHEN n_churned < n_at_risk THEN
        |    CAST(SUM(CAST(l1m AS DECIMAL(28,6))) OVER (ORDER BY last_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  END AS log_survival,
        |  CAST(SUM(CAST(FLOOR(hazard * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    OVER (ORDER BY last_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_hazard
        |FROM hz""".stripMargin)),

    // Brand-level market-basket rules over order baskets: support /
    // confidence / lift, exact counts, one division per metric.
    Query("ana_market_basket", ((s: SparkSession, d: String) => {
      val baskets = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      AnalyticsPack.marketBasket(baskets, "l_orderkey", "p_brand")
    }),
      Sql("""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM items),
        |marg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, n_ab, ma.n_i AS n_a, mb.n_i AS n_b, n_baskets,
        |  CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(ma.n_i AS DOUBLE) AS confidence,
        |  CAST(n_ab * n_baskets AS DOUBLE) / CAST(ma.n_i * mb.n_i AS DOUBLE) AS lift
        |FROM pairs
        |JOIN marg ma ON ma.item = item_a
        |JOIN marg mb ON mb.item = item_b
        |CROSS JOIN nb""".stripMargin)),

    Query("ana_pct_of_peak", ((s: SparkSession, d: String) =>
      AnalyticsPack.pctOfPeak(servingValid(s, d))),
      Sql(s"""WITH slots AS (
         |  SELECT time_30m_sk,
         |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS en_transito
         |  FROM ($servingValidSql) WHERE tipo_dia = 'LABORAL'
         |  GROUP BY time_30m_sk)
         |SELECT time_30m_sk, en_transito,
         |  ROUND(100.0 * en_transito / NULLIF(MAX(en_transito) OVER (), 0), 1) AS pct_del_pico
         |FROM slots""".stripMargin)),

    Query("ana_deviation_buckets", ((s: SparkSession, d: String) =>
      AnalyticsPack.deviationBuckets(t(s, d, "lineitem"))),
      Sql("""WITH base AS (
        |  SELECT *, l_extendedprice / NULLIF(l_quantity, 0) AS ratio
        |  FROM lineitem
        |  WHERE l_quantity >= 5 AND l_extendedprice IS NOT NULL)
        |SELECT
        |  CASE WHEN ratio < 1000 THEN 'Muy directo (<1000)'
        |       WHEN ratio < 2000 THEN 'Directo (1000-2000)'
        |       WHEN ratio < 3400 THEN 'Moderado (2000-3400)'
        |       ELSE 'Alto desvio (>=3400)' END AS categoria_desvio,
        |  COUNT(*) AS viajes,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0), 1) AS precio_promedio,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0), 2) AS qty_promedio,
        |  ROUND(CAST(SUM(CAST(ratio AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 3) AS factor_desvio_promedio
        |FROM base
        |GROUP BY 1""".stripMargin)),

    Query("ana_user_mode_combos", ((s: SparkSession, d: String) =>
      AnalyticsPack.userModeCombos(servingValid(s, d))),
      Sql(s"""WITH per_user AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type_norm = 'CLICK' THEN 1 ELSE 0 END) AS tiene_click,
         |    MAX(CASE WHEN event_type_norm = 'VIEW' THEN 1 ELSE 0 END) AS tiene_view,
         |    MAX(CASE WHEN event_type_norm = 'PURCHASE' THEN 1 ELSE 0 END) AS tiene_purchase,
         |    COUNT(*) AS n_events
         |  FROM ($servingValidSql) WHERE user_id IS NOT NULL
         |  GROUP BY user_id),
         |seg AS (
         |  SELECT
         |    CASE WHEN tiene_purchase = 1 THEN 'Comprador'
         |         WHEN tiene_click = 1 AND tiene_view = 1 THEN 'Click + View'
         |         WHEN tiene_click = 1 THEN 'Solo Click'
         |         WHEN tiene_view = 1 THEN 'Solo View'
         |         ELSE 'Otra combinacion' END AS tipo_uso,
         |    COUNT(*) AS usuarios,
         |    ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 2) AS eventos_promedio,
         |    ROUND(quantile_cont(n_events, 0.5), 1) AS eventos_mediana
         |  FROM per_user GROUP BY 1)
         |SELECT tipo_uso, usuarios, eventos_promedio, eventos_mediana,
         |  ROUND(100.0 * usuarios / SUM(usuarios) OVER (), 2) AS pct_usuarios
         |FROM seg""".stripMargin)),

    Query("ana_coverage_audit", ((s: SparkSession, d: String) =>
      AnalyticsPack.coverageAudit(servingValid(s, d))),
      Sql(s"""SELECT event_type_norm AS mode_code, tipo_dia,
         |  COUNT(*) AS total,
         |  COUNT(prop_k) AS con_dato,
         |  COUNT(*) - COUNT(prop_k) AS sin_dato,
         |  ROUND(100.0 * COUNT(prop_k) / COUNT(*), 2) AS pct_con_dato,
         |  ${avgD("CASE WHEN prop_k IS NOT NULL THEN CAST(value AS DECIMAL(18,2)) END",
               "COUNT(CASE WHEN prop_k IS NOT NULL THEN value END)", 1)} AS valor_promedio_con_dato,
         |  CASE WHEN ROUND(100.0 * COUNT(prop_k) / COUNT(*), 2) < 90.0
         |       THEN 'INCUMPLE' ELSE 'OK' END AS estado
         |FROM ($servingValidSql)
         |GROUP BY 1, 2""".stripMargin)),

    // Revenue-coverage gap over the comparable universe — the
    // reference's headline PowerBI KPI family (docs/powerbi/
    // DAX_ENTERPRISE_MEDIDAS.md §5-8): day-type-weighted scaled
    // boardings (profile sub-window 0105-0114 scaled by calendar day
    // counts) vs observed validations over the serving window, with
    // the signed gap split, §7 comparability state machine and §8
    // opportunity measures. CLICK/PURCHASE stand in for the BUS/METRO
    // comparable-mode pair (2 of the 3 serving modes).
    Query("ana_revenue_coverage_gap", ((s: SparkSession, d: String) =>
      AnalyticsPack.revenueCoverageGap(servingValid(s, d),
        baseFrom = 20240105, baseTo = 20240114,
        winFrom = 20240105, winTo = 20240128,
        comparableModes = Seq("CLICK", "PURCHASE"))),
      // AnalyticsPack.revenueCoverageGap mirrored: exact DECIMAL value
      // sums, profile avg = one IEEE division, scale multiply, §6 gap
      // split, §7 state machine, §8 opportunity measures.
      Sql(s"""WITH ev AS MATERIALIZED (
         |  SELECT event_type_norm AS mode_code, tipo_dia, date_sk,
         |    CAST(value AS DECIMAL(18,2)) AS v
         |  FROM ($servingValidSql)
         |  WHERE date_sk BETWEEN 20240105 AND 20240128 AND value IS NOT NULL),
         |obs AS (
         |  SELECT mode_code, tipo_dia,
         |    CAST(COALESCE(ROUND(SUM(v), 2), 0) AS DOUBLE) AS validaciones
         |  FROM ev GROUP BY 1, 2),
         |db AS (
         |  SELECT mode_code, tipo_dia, date_sk, SUM(v) AS day_total
         |  FROM ev WHERE date_sk BETWEEN 20240105 AND 20240114
         |  GROUP BY 1, 2, 3),
         |prof AS (
         |  SELECT mode_code, tipo_dia, SUM(day_total) AS base_total,
         |    CAST(COUNT(*) AS BIGINT) AS n_dias_base
         |  FROM db GROUP BY 1, 2),
         |cal AS (
         |  SELECT tipo_dia, CAST(COUNT(DISTINCT date_sk) AS BIGINT) AS n_dias
         |  FROM ev GROUP BY 1),
         |j AS (
         |  SELECT o.mode_code, o.tipo_dia, o.validaciones,
         |    p.n_dias_base, c.n_dias,
         |    o.mode_code IN ('CLICK', 'PURCHASE') AS is_comp,
         |    ROUND(CAST(p.base_total AS DOUBLE) / p.n_dias_base, 2)
         |      AS subidas_diarias_base
         |  FROM obs o
         |  LEFT JOIN prof p ON p.mode_code = o.mode_code AND p.tipo_dia = o.tipo_dia
         |  JOIN cal c ON c.tipo_dia = o.tipo_dia),
         |k AS (
         |  SELECT *, ROUND(subidas_diarias_base * n_dias, 2) AS pe0 FROM j),
         |m AS (
         |  SELECT *,
         |    CASE WHEN is_comp AND pe0 > 0 THEN pe0 END AS pasajeros_estimados
         |  FROM k),
         |n AS (
         |  SELECT *,
         |    ROUND(validaciones / pasajeros_estimados, 4) AS cobertura,
         |    ROUND(pasajeros_estimados - validaciones, 2) AS brecha_signed
         |  FROM m),
         |g AS (
         |  SELECT *,
         |    CASE WHEN brecha_signed IS NULL THEN NULL
         |         WHEN brecha_signed > 0 THEN brecha_signed
         |         ELSE CAST(0 AS DOUBLE) END AS brecha_no_validada,
         |    CASE WHEN brecha_signed IS NULL THEN NULL
         |         WHEN brecha_signed < 0 THEN -brecha_signed
         |         ELSE CAST(0 AS DOUBLE) END AS sobrevalidacion
         |  FROM n)
         |SELECT mode_code, tipo_dia, validaciones, n_dias_base, n_dias,
         |  subidas_diarias_base, pasajeros_estimados, cobertura,
         |  brecha_signed, brecha_no_validada, sobrevalidacion,
         |  CASE WHEN NOT is_comp THEN 'NO_COMPARABLE_MODO'
         |       WHEN pasajeros_estimados IS NULL THEN 'NO_COMPARABLE_SIN_BASE'
         |       WHEN cobertura < 0.30 THEN 'NO_COMPARABLE_BASE_SOBREDIMENSIONADA'
         |       WHEN cobertura > 1.50 THEN 'NO_COMPARABLE_BASE_SUBDIMENSIONADA'
         |       ELSE 'COMPARABLE' END AS estado_comparabilidad,
         |  CASE WHEN pasajeros_estimados IS NULL OR pasajeros_estimados < 500
         |       THEN 0 ELSE 1 END AS bandera_calidad,
         |  ROUND(0.10 * brecha_no_validada, 2) AS recuperacion_pot_10,
         |  ROUND(0.20 * brecha_no_validada, 2) AS recuperacion_pot_20,
         |  ROUND(brecha_no_validada / pasajeros_estimados, 4) AS brecha_relativa,
         |  ROUND(0.95 - cobertura, 4) AS gap_vs_meta
         |FROM g""".stripMargin)),

    // Cohort retention: first-seen cohorts × day offsets, distinct
    // retained users, share of the day-0 cohort.
    Query("ana_retention_cohort", ((s: SparkSession, d: String) =>
      AnalyticsPack.retentionCohort(t(s, d, "events"))),
      Sql("""WITH ev AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day
          |  FROM events WHERE user_id IS NOT NULL),
          |fs AS (SELECT user_id, MIN(day) AS cohort_date FROM ev GROUP BY user_id),
          |offs AS (
          |  SELECT cohort_date,
          |    CAST(date_diff('day', cohort_date, day) AS INTEGER) AS offset_days,
          |    COUNT(DISTINCT e.user_id) AS retained_users
          |  FROM ev e JOIN fs USING (user_id)
          |  GROUP BY 1, 2)
          |SELECT cohort_date, offset_days, retained_users,
          |  100.0 * retained_users / b.cohort_size AS pct_retained
          |FROM offs
          |JOIN (SELECT cohort_date, retained_users AS cohort_size
          |      FROM offs WHERE offset_days = 0) b USING (cohort_date)""".stripMargin)),

    // Cumulative cohort value (the LTV curve): what retention's
    // headcount view is worth in money, per cohort age.
    Query("ana_cohort_ltv", ((s: SparkSession, d: String) =>
      AnalyticsPack.cohortLtv(t(s, d, "events"))),
      Sql("""WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |fs AS (SELECT user_id, MIN(day) AS cohort_date FROM ev GROUP BY 1),
      |ba AS (
      |  SELECT cohort_date, date_diff('day', cohort_date, day) AS age_days,
      |    CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active_users,
      |    COALESCE(SUM(CAST(v AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS rev
      |  FROM ev JOIN fs USING (user_id)
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT cohort_date, n_active_users AS cohort_size
      |  FROM ba WHERE age_days = 0)
      |SELECT ba.cohort_date, ba.age_days, ba.n_active_users,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY ba.cohort_date ORDER BY ba.age_days
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue,
      |  CAST(SUM(rev) OVER (PARTITION BY ba.cohort_date ORDER BY ba.age_days
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / CAST(cohort_size AS DOUBLE) AS ltv_per_user
      |FROM ba JOIN base USING (cohort_date)""".stripMargin)),

    // Ordered VIEW→CLICK→PURCHASE funnel (running-min windows per
    // user, one shuffle), panel of counts + conversion rates.
    Query("ana_funnel_steps", ((s: SparkSession, d: String) =>
      AnalyticsPack.funnelSteps(t(s, d, "events"))),
      Sql("""WITH e AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |w1 AS (
        |  SELECT *, MIN(CASE WHEN et = 'VIEW' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_view
        |  FROM e),
        |w2 AS (
        |  SELECT *, MIN(CASE WHEN et = 'CLICK' AND first_view IS NOT NULL THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_av
        |  FROM w1),
        |per_user AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN et = 'VIEW' THEN 1 ELSE 0 END) AS had_view,
        |    MAX(CASE WHEN et = 'CLICK' AND first_view IS NOT NULL THEN 1 ELSE 0 END) AS had_click,
        |    MAX(CASE WHEN et = 'PURCHASE' AND first_click_av IS NOT NULL THEN 1 ELSE 0 END) AS had_purchase
        |  FROM w2 GROUP BY user_id)
        |SELECT COUNT(*) AS users_total,
        |  CAST(SUM(had_view) AS BIGINT) AS users_view,
        |  CAST(SUM(had_click) AS BIGINT) AS users_click_after_view,
        |  CAST(SUM(had_purchase) AS BIGINT) AS users_purchase_after_click,
        |  ROUND(100.0 * CAST(SUM(had_view) AS BIGINT) / NULLIF(COUNT(*), 0), 2) AS pct_to_view,
        |  ROUND(100.0 * CAST(SUM(had_click) AS BIGINT) / NULLIF(CAST(SUM(had_view) AS BIGINT), 0), 2) AS pct_view_to_click,
        |  ROUND(100.0 * CAST(SUM(had_purchase) AS BIGINT) / NULLIF(CAST(SUM(had_click) AS BIGINT), 0), 2) AS pct_click_to_purchase
        |FROM per_user""".stripMargin)),

    // Funnel latency: exact p25/50/75/90 of first-CLICK -> first-
    // PURCHASE-after ms latency over converted users (rank-bracket
    // quantiles; ms latencies are near-unique) plus conversion rate.
    Query("ana_time_to_convert", ((s: SparkSession, d: String) =>
      AnalyticsPack.timeToConvert(t(s, d, "events"))),
      // AnalyticsPack.timeToConvert mirrored: same running-min window
      // (ts, event_id order), epoch-ms latency, quantile_cont panel.
      Sql("""WITH ev AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |st AS (
        |  SELECT user_id, ts, et,
        |    MIN(CASE WHEN et = 'CLICK' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click
        |  FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN et = 'CLICK' THEN 1 ELSE 0 END) AS had_click,
        |    MIN(CASE WHEN et = 'PURCHASE' AND first_click IS NOT NULL
        |      THEN epoch_ms(ts) - epoch_ms(first_click) END) AS latency_ms
        |  FROM st GROUP BY 1),
        |ck AS (SELECT * FROM pu WHERE had_click = 1)
        |SELECT COUNT(*) AS n_clickers,
        |  COUNT(latency_ms) AS n_converted,
        |  ROUND(100.0 * COUNT(latency_ms) / NULLIF(COUNT(*), 0), 2) AS pct_convert,
        |  quantile_cont(CAST(latency_ms AS DOUBLE), 0.25) AS p25_ms,
        |  quantile_cont(CAST(latency_ms AS DOUBLE), 0.5) AS p50_ms,
        |  quantile_cont(CAST(latency_ms AS DOUBLE), 0.75) AS p75_ms,
        |  quantile_cont(CAST(latency_ms AS DOUBLE), 0.9) AS p90_ms
        |FROM ck""".stripMargin)),

    // Time-bounded funnel: each step counts only within 48h of the
    // previous step's first completion — conversion, not retention.
    // Same one-sort window ladder as the unbounded funnel, ms-exact
    // deadlines.
    Query("ana_funnel_windowed", ((s: SparkSession, d: String) =>
      AnalyticsPack.funnelWindowed(t(s, d, "events"), windowSec = 48 * 3600)),
      // Windowed-funnel replay: the same ladder with epoch-ms step
      // deadlines (48h) on the cumulative first-step times.
      Sql("""WITH e AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |w1 AS (
        |  SELECT *, MIN(CASE WHEN et = 'VIEW' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_view
        |  FROM e),
        |w2 AS (
        |  SELECT *, MIN(CASE WHEN et = 'CLICK' AND first_view IS NOT NULL
        |      AND epoch_ms(ts) - epoch_ms(first_view) <= 172800000 THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_w
        |  FROM w1),
        |w3 AS (
        |  SELECT *, MIN(CASE WHEN et = 'PURCHASE' AND first_click_w IS NOT NULL
        |      AND epoch_ms(ts) - epoch_ms(first_click_w) <= 172800000 THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_purchase_w
        |  FROM w2),
        |per_user AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN et = 'VIEW' THEN 1 ELSE 0 END) AS had_view,
        |    MAX(CASE WHEN first_click_w IS NOT NULL THEN 1 ELSE 0 END) AS had_click,
        |    MAX(CASE WHEN first_purchase_w IS NOT NULL THEN 1 ELSE 0 END) AS had_purchase
        |  FROM w3 GROUP BY user_id)
        |SELECT COUNT(*) AS users_total,
        |  CAST(SUM(had_view) AS BIGINT) AS users_view,
        |  CAST(SUM(had_click) AS BIGINT) AS users_click_in_window,
        |  CAST(SUM(had_purchase) AS BIGINT) AS users_purchase_in_window,
        |  ROUND(100.0 * CAST(SUM(had_view) AS BIGINT) / NULLIF(COUNT(*), 0), 2) AS pct_to_view,
        |  ROUND(100.0 * CAST(SUM(had_click) AS BIGINT) / NULLIF(CAST(SUM(had_view) AS BIGINT), 0), 2) AS pct_view_to_click,
        |  ROUND(100.0 * CAST(SUM(had_purchase) AS BIGINT) / NULLIF(CAST(SUM(had_click) AS BIGINT), 0), 2) AS pct_click_to_purchase
        |FROM per_user""".stripMargin)),

    // Multi-model attribution: first/last/linear credit per purchase
    // across its 72h click window, reported per (model, click day) —
    // the credit-assignment semantics over E9's pair join.
    Query("ana_attribution_models", ((s: SparkSession, d: String) =>
      AnalyticsPack.attributionModels(t(s, d, "events"), windowSec = 72 * 3600)),
      // Attribution replay: the same user-keyed pair join, struct
      // min/max first/last (ts then id), grid-quantized linear split.
      Sql("""WITH e AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et, value
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |clicks AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM e WHERE et = 'CLICK'),
        |purchases AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_id,
        |    COALESCE(CAST(value AS DECIMAL(18,2)), CAST(0.0 AS DECIMAL(18,2))) AS p_val
        |  FROM e WHERE et = 'PURCHASE'),
        |pairs AS (
        |  SELECT p.p_id, p.p_val, c.click_ts, c.click_id
        |  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
        |  WHERE c.click_ts <= p.p_ts
        |    AND epoch_ms(p.p_ts) - epoch_ms(c.click_ts) <= 259200000),
        |perp AS (
        |  SELECT p_id, p_val, CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |    MIN({'click_ts': click_ts, 'click_id': click_id}) AS first_c,
        |    MAX({'click_ts': click_ts, 'click_id': click_id}) AS last_c
        |  FROM pairs GROUP BY 1, 2),
        |credits AS (
        |  SELECT 'linear' AS model, pr.click_ts,
        |    CAST(FLOOR(CAST(pr.p_val AS DOUBLE) / CAST(pp.n_clicks AS DOUBLE) * 1e6) / 1e6
        |      AS DECIMAL(28,6)) AS credit
        |  FROM pairs pr JOIN perp pp ON pr.p_id = pp.p_id
        |  UNION ALL
        |  SELECT 'first_touch', first_c.click_ts, CAST(p_val AS DECIMAL(28,6)) FROM perp
        |  UNION ALL
        |  SELECT 'last_touch', last_c.click_ts, CAST(p_val AS DECIMAL(28,6)) FROM perp)
        |SELECT model, CAST(click_ts AS DATE) AS click_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_credits,
        |  CAST(SUM(credit) AS DOUBLE) AS attributed_value
        |FROM credits GROUP BY 1, 2""".stripMargin)),

    // 7-day rolling demand over the per-day aggregate series.
    Query("ana_rolling_demand", ((s: SparkSession, d: String) =>
      AnalyticsPack.rollingDemand(t(s, d, "events"))),
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS viajes,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS dem
        |  FROM events GROUP BY 1)
        |SELECT day, viajes,
        |  CAST(COALESCE(ROUND(dem, 2), 0) AS DOUBLE) AS demanda,
        |  CAST(COALESCE(ROUND(SUM(dem) OVER w, 2), 0) AS DOUBLE) AS demanda_7d,
        |  COUNT(*) OVER w AS dias_en_ventana,
        |  CAST(SUM(dem) OVER w AS DOUBLE) / COUNT(*) OVER w AS demanda_7d_avg
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Rolling 7-day distinct active users (WAU curve): sequence-
    // expanded user-days, never a range join or a window distinct.
    Query("ana_rolling_active_users", ((s: SparkSession, d: String) =>
      AnalyticsPack.rollingActiveUsers(t(s, d, "events"))),
      // Same user-day set as the Spark sequence-expansion: d BETWEEN
      // g-6 AND g  <=>  g IN [d, d+6] ∩ observed days.
      Sql("""WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        |  FROM events WHERE ts IS NOT NULL),
        |days AS (SELECT DISTINCT d AS g FROM ud)
        |SELECT g.g AS day,
        |  COUNT(DISTINCT CASE WHEN u.d = g.g THEN u.user_id END) AS n_users_day,
        |  COUNT(DISTINCT u.user_id) AS n_users_7d
        |FROM days g JOIN ud u ON u.d BETWEEN g.g - 6 AND g.g
        |GROUP BY 1""".stripMargin)),

    // DAU/WAU/MAU + stickiness (DAU/MAU) per day via the bounded
    // 28-day window expansion — the product-health ratio panel.
    Query("ana_stickiness", ((s: SparkSession, d: String) =>
      AnalyticsPack.stickinessPanel(t(s, d, "events"))),
      // AnalyticsPack.stickinessPanel: the 28-day range-join twin of
      // the rolling-actives oracle, with the WAU band and the
      // DAU/MAU raw quotient.
      Sql("""WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        |  FROM events WHERE ts IS NOT NULL),
        |days AS (SELECT DISTINCT d AS g FROM ud),
        |agg AS (
        |  SELECT g.g AS day,
        |    COUNT(DISTINCT CASE WHEN u.d = g.g THEN u.user_id END) AS dau,
        |    COUNT(DISTINCT CASE WHEN u.d >= g.g - 6 THEN u.user_id END) AS wau,
        |    COUNT(DISTINCT u.user_id) AS mau
        |  FROM days g JOIN ud u ON u.d BETWEEN g.g - 27 AND g.g
        |  GROUP BY 1)
        |SELECT day, dau, wau, mau,
        |  CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
        |FROM agg""".stripMargin)),

    // K-anonymity / l-diversity audit over binned quasi-identifiers
    // (6h band x iso-dow x value decile) with event_type as the
    // sensitive attribute — the release gate next to GDPR erasure.
    Query("privacy_k_anon_audit", ((s: SparkSession, d: String) =>
      Audit.kAnonymity(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", k = 5, l = 2)),
      // Audit.kAnonymity mirrored: exact combo populations + distinct
      // sensitive counts, both verdicts.
      Sql("""SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |  CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |  LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_sensitive,
        |  COUNT(*) >= 5 AS k_anonymous,
        |  COUNT(DISTINCT event_type) >= 2 AS l_diverse
        |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Entropy l-diversity over the same binned quasi-identifiers: the
    // information tier between the distinct-l count and t-closeness —
    // a combo must carry >= ln(l) nats of sensitive entropy, so a
    // 99%-one-value combo fails where distinct-l passes.
    Query("privacy_l_diversity", ((s: SparkSession, d: String) =>
      Audit.lDiversityEntropy(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", l = 3)),
      // Audit.lDiversityEntropy mirrored: exact-count shares, p·ln p
      // gridded 1e-6 into the DECIMAL(28,6) per-combo sum, negated at
      // the edge; the ln(3) threshold is the SAME Scala-evaluated
      // literal both engines compare against.
      Sql(s"""WITH base AS (
        |  SELECT event_type,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT hour_band, iso_dow, val_decile, event_type AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_cs
        |  FROM base GROUP BY 1, 2, 3, 4),
        |combos AS (
        |  SELECT hour_band, iso_dow, val_decile,
        |    CAST(SUM(n_cs) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_sensitive
        |  FROM cells GROUP BY 1, 2, 3)
        |SELECT c.hour_band, c.iso_dow, c.val_decile, c.n_rows, c.n_sensitive,
        |  -CAST(SUM(CAST(FLOOR(
        |      (CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * LN(CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS entropy,
        |  c.n_sensitive >= 3 AS distinct_l_diverse,
        |  -CAST(SUM(CAST(FLOOR(
        |      (CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * LN(CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
        |    >= ${math.log(3.0)} AS entropy_l_diverse
        |FROM cells l JOIN combos c USING (hour_band, iso_dow, val_decile)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin)),

    // t-closeness audit over the same binned quasi-identifiers: the
    // distribution tier above the k/l count verdicts — per combo the
    // variational distance between its sensitive mix and the global
    // mix, released only when <= t.
    Query("privacy_t_closeness", ((s: SparkSession, d: String) =>
      Audit.tCloseness(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", t = 0.2)),
      // Audit.tCloseness mirrored: full combo × sensitive grid so absent
      // values pay |0 − q|, gridded 1e-6 terms into the DECIMAL(28,6)
      // per-combo sum, halved at the edge.
      Sql("""WITH base AS (
        |  SELECT event_type,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT hour_band, iso_dow, val_decile, event_type AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_cs
        |  FROM base GROUP BY 1, 2, 3, 4),
        |combos AS (
        |  SELECT hour_band, iso_dow, val_decile,
        |    CAST(SUM(n_cs) AS BIGINT) AS n_rows
        |  FROM cells GROUP BY 1, 2, 3),
        |gpop AS (
        |  SELECT event_type AS s, CAST(COUNT(*) AS BIGINT) AS n_s FROM base GROUP BY 1),
        |totq AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM gpop),
        |sens AS (
        |  SELECT s, CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE) AS q
        |  FROM gpop CROSS JOIN totq),
        |grid AS (
        |  SELECT c.hour_band, c.iso_dow, c.val_decile, c.n_rows, se.s, se.q,
        |    CAST(COALESCE(cl.n_cs, 0) AS DOUBLE) / CAST(c.n_rows AS DOUBLE) AS p
        |  FROM combos c CROSS JOIN sens se
        |  LEFT JOIN cells cl ON cl.hour_band = c.hour_band
        |    AND cl.iso_dow = c.iso_dow AND cl.val_decile = c.val_decile
        |    AND cl.s = se.s)
        |SELECT hour_band, iso_dow, val_decile, n_rows,
        |  CAST(SUM(CAST(FLOOR(ABS(p - q) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    AS DOUBLE) / 2.0 AS tv_distance,
        |  CAST(SUM(CAST(FLOOR(ABS(p - q) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    AS DOUBLE) / 2.0 <= 0.2 AS t_close
        |FROM grid GROUP BY 1, 2, 3, 4""".stripMargin)),

    // The ACTING twin of the audit: the released view keeps only rows
    // whose quasi-identifier combo passes both verdicts (suppression,
    // the quality_valid/quarantine pattern applied to privacy).
    Query("privacy_suppress_release", ((s: SparkSession, d: String) => {
      val binned = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
          Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
          least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile"))
      val quasi = Seq("hour_band", "iso_dow", "val_decile")
      val safe = Audit.kAnonymity(binned, quasi, "event_type", k = 5, l = 2)
        .filter(col("k_anonymous") && col("l_diverse"))
        .select(quasi.map(col): _*)
      binned.join(safe.hint("shuffle_hash"), quasi, "left_semi")
    }),
      Sql("""WITH binned AS (
        |  SELECT event_id, event_type, value,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |safe AS (
        |  SELECT hour_band, iso_dow, val_decile
        |  FROM binned GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 5 AND COUNT(DISTINCT event_type) >= 2)
        |SELECT b.event_id, b.event_type, b.value,
        |  b.hour_band, b.iso_dow, b.val_decile
        |FROM binned b
        |JOIN safe s ON s.hour_band = b.hour_band AND s.iso_dow = b.iso_dow
        |  AND s.val_decile = b.val_decile""".stripMargin)),

    // Generalization-ladder release over the same quasi identifiers:
    // coarsen (hour band / weekend flag / value band, then full
    // redaction) until every class reaches k=5 — the third mechanism
    // next to suppression and noise; gen_level records the cost.
    Query("privacy_generalize_release", ((s: SparkSession, d: String) => {
      val base = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
      val ladder = Seq(
        Seq(floor(hour(col("ts")) / 6).cast("long").cast("string"),
          Temporal.isoDow(col("ts")).cast("long").cast("string"),
          least(lit(9L), floor(col("value") / 10).cast("long")).cast("string")),
        Seq(floor(hour(col("ts")) / 6).cast("long").cast("string"),
          when(Temporal.isoDow(col("ts")) >= 6, "WE").otherwise("WD"),
          least(lit(4L), floor(col("value") / 20).cast("long")).cast("string")),
        Seq(lit("*"), lit("*"), lit("*")))
      Audit.generalizeRelease(base, ladder,
        Seq("hour_band", "iso_dow", "val_decile"), k = 5)
    }),
      // Generalization ladder replay: per-level min class size, the
      // first-k-anonymous-level choice, CASE-selected rendering, final
      // windowed suppression at the chosen grain.
      Sql("""WITH base AS (
        |  SELECT
        |    CAST(CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS VARCHAR) AS g0_0,
        |    CAST(CAST(isodow(ts) AS BIGINT) AS VARCHAR) AS g0_1,
        |    CAST(LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS VARCHAR) AS g0_2,
        |    CAST(CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS VARCHAR) AS g1_0,
        |    CASE WHEN isodow(ts) >= 6 THEN 'WE' ELSE 'WD' END AS g1_1,
        |    CAST(LEAST(4, CAST(FLOOR(value / 20) AS BIGINT)) AS VARCHAR) AS g1_2,
        |    '*' AS g2_0, '*' AS g2_1, '*' AS g2_2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m0 AS (SELECT MIN(c) AS m0 FROM
        |  (SELECT COUNT(*) AS c FROM base GROUP BY g0_0, g0_1, g0_2)),
        |m1 AS (SELECT MIN(c) AS m1 FROM
        |  (SELECT COUNT(*) AS c FROM base GROUP BY g1_0, g1_1, g1_2)),
        |lvl AS (SELECT CAST(CASE WHEN m0 >= 5 THEN 0
        |                         WHEN m1 >= 5 THEN 1
        |                         ELSE 2 END AS INTEGER) AS gen_level
        |  FROM m0 CROSS JOIN m1),
        |rel AS (SELECT
        |    CASE gen_level WHEN 0 THEN g0_0 WHEN 1 THEN g1_0 ELSE g2_0 END
        |      AS hour_band,
        |    CASE gen_level WHEN 0 THEN g0_1 WHEN 1 THEN g1_1 ELSE g2_1 END
        |      AS iso_dow,
        |    CASE gen_level WHEN 0 THEN g0_2 WHEN 1 THEN g1_2 ELSE g2_2 END
        |      AS val_decile,
        |    gen_level
        |  FROM base CROSS JOIN lvl)
        |SELECT hour_band, iso_dow, val_decile, gen_level FROM (
        |  SELECT *, COUNT(*) OVER
        |    (PARTITION BY hour_band, iso_dow, val_decile) AS cn
        |  FROM rel)
        |WHERE cn >= 5""".stripMargin)),

    // Deterministic Laplace DP release over the same quasi-identifier
    // combos: epsilon=0.5 (b=2.0), noise a pure function of the group
    // key through the md5 uniform — reproducible across runs so the
    // privacy budget is spent once, not per re-run.
    Query("privacy_dp_release", ((s: SparkSession, d: String) =>
      Audit.dpNoisyCounts(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"), epsilon = 0.5)),
      Sql("""WITH g AS (
        |  SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |drawn AS (
        |  SELECT *,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR),
        |       CAST(val_decile AS VARCHAR))), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS u
        |  FROM g),
        |noised AS (
        |  SELECT hour_band, iso_dow, val_decile, n_rows,
        |    FLOOR((-2.0) * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(u - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise
        |  FROM drawn)
        |SELECT hour_band, iso_dow, val_decile, n_rows, noise,
        |  CAST(n_rows AS DOUBLE) + noise AS noisy_count,
        |  CAST(GREATEST(0, FLOOR(CAST(n_rows AS DOUBLE) + noise)) AS BIGINT) AS released_count
        |FROM noised""".stripMargin)),

    // A/B readout over the deterministic md5 50/50 user assignment:
    // one aggregation pass, two-proportion z statistic. Conversion =
    // a high-value purchase (the plain PURCHASE flag saturates every
    // user at this synthetic density).
    Query("ana_abtest_readout", ((s: SparkSession, d: String) =>
      AnalyticsPack.abtestReadout(
        Sampling.splitAssign(
          t(s, d, "events").filter(col("user_id").isNotNull),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "split", "A", "B",
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // The md5 50/50 assignment replayed exactly (thresholdHex(0.5)
      // = '8000'); every readout value is a fixed IEEE op sequence
      // over exact distinct counts.
      Sql("""WITH ev AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS et, value,
        |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
        |         THEN 'A' ELSE 'B' END AS split
        |  FROM events WHERE user_id IS NOT NULL),
        |agg AS (
        |  SELECT
        |    COUNT(DISTINCT CASE WHEN split = 'A' THEN user_id END) AS n_a,
        |    COUNT(DISTINCT CASE WHEN split = 'B' THEN user_id END) AS n_b,
        |    COUNT(DISTINCT CASE WHEN split = 'A' AND et = 'PURCHASE' AND value > 95 THEN user_id END) AS conv_a,
        |    COUNT(DISTINCT CASE WHEN split = 'B' AND et = 'PURCHASE' AND value > 95 THEN user_id END) AS conv_b
        |  FROM ev)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  conv_a / NULLIF(n_a, 0) AS rate_a,
        |  conv_b / NULLIF(n_b, 0) AS rate_b,
        |  conv_b / NULLIF(n_b, 0) - conv_a / NULLIF(n_a, 0) AS lift_abs,
        |  (conv_b / NULLIF(n_b, 0) - conv_a / NULLIF(n_a, 0))
        |    / NULLIF(sqrt(((conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |           * (1.0 - (conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |           * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0) AS z_score
        |FROM agg""".stripMargin)),

    // FDR-controlled segment drill-down of the same experiment: the
    // two-proportion z per ISO weekday, gridded A&S normal p, and
    // the Benjamini-Hochberg step-up verdict at q=0.05.
    Query("ana_benjamini_hochberg", ((s: SparkSession, d: String) =>
      AnalyticsPack.benjaminiHochberg(
        Sampling.splitAssign(
          t(s, d, "events")
            .filter(col("user_id").isNotNull && col("ts").isNotNull)
            .withColumn("iso_dow", Temporal.isoDow(col("ts"))),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "iso_dow", "split", "A", "B",
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // AnalyticsPack.benjaminiHochberg mirrored: per-ISO-weekday
      // two-proportion z, the same A&S 7.1.26 Horner erfc under the
      // 1e-6 grid, rank/threshold/k* step-up in fixed IEEE order.
      Sql("""WITH ev AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS et, value,
        |    CAST(isodow(ts) AS INTEGER) AS segment,
        |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
        |         THEN 'A' ELSE 'B' END AS split
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |agg AS (
        |  SELECT segment,
        |    COUNT(DISTINCT CASE WHEN split = 'A' THEN user_id END) AS n_a,
        |    COUNT(DISTINCT CASE WHEN split = 'B' THEN user_id END) AS n_b,
        |    COUNT(DISTINCT CASE WHEN split = 'A' AND et = 'PURCHASE' AND value > 95 THEN user_id END) AS conv_a,
        |    COUNT(DISTINCT CASE WHEN split = 'B' AND et = 'PURCHASE' AND value > 95 THEN user_id END) AS conv_b
        |  FROM ev GROUP BY 1),
        |zs AS (
        |  SELECT *,
        |    conv_a / NULLIF(n_a, 0) AS rate_a,
        |    conv_b / NULLIF(n_b, 0) AS rate_b,
        |    (conv_b / NULLIF(n_b, 0) - conv_a / NULLIF(n_a, 0))
        |      / NULLIF(sqrt(((conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |             * (1.0 - (conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |             * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0) AS z_score
        |  FROM agg),
        |pv AS (
        |  SELECT segment, n_a, n_b, conv_a, conv_b, rate_a, rate_b, z_score,
        |    FLOOR(((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
        |      - 0.284496736) * tt + 0.254829592) * tt
        |      * exp(-(xx * xx)) * 1e6) / 1e6 AS p_value
        |  FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS tt FROM
        |        (SELECT *, abs(z_score) / 1.4142135623730951 AS xx FROM zs))
        |  WHERE z_score IS NOT NULL),
        |rk AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_value, segment) AS BIGINT) AS p_rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM pv),
        |th AS (SELECT *, CAST(p_rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE) AS bh_threshold FROM rk),
        |ks AS (SELECT COALESCE(MAX(CASE WHEN p_value <= bh_threshold THEN p_rank END), CAST(0 AS BIGINT)) AS k FROM th)
        |SELECT segment, n_a, n_b, conv_a, conv_b, rate_a, rate_b, z_score,
        |  p_value, p_rank, bh_threshold, p_rank <= k AS significant
        |FROM th, ks""".stripMargin)),

    // Wilson 95% intervals per arm over the same split/conversion —
    // what each arm's rate plausibly IS (the abtest z says whether
    // they differ); honest at small n where Wald collapses.
    Query("ana_rate_wilson", ((s: SparkSession, d: String) =>
      AnalyticsPack.rateWilson(
        Sampling.splitAssign(
          t(s, d, "events").filter(col("user_id").isNotNull),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "split",
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // AnalyticsPack.rateWilson mirrored: same split/conversion
      // grain as the abtest oracle, Wilson center/half in the
      // identical fixed op order (z = 1.96 parsed literal).
      Sql("""WITH ev AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS et, value,
        |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
        |         THEN 'A' ELSE 'B' END AS split
        |  FROM events WHERE user_id IS NOT NULL),
        |panel AS (
        |  SELECT split AS variant,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(COUNT(DISTINCT CASE WHEN et = 'PURCHASE' AND value > 95
        |      THEN user_id END) AS BIGINT) AS n_conv
        |  FROM ev GROUP BY 1),
        |w AS (
        |  SELECT *,
        |    CAST(n_users AS DOUBLE) AS n,
        |    CAST(n_conv AS DOUBLE) / NULLIF(CAST(n_users AS DOUBLE), 0.0) AS p
        |  FROM panel),
        |c AS (
        |  SELECT *,
        |    1.0 + 1.96 * 1.96 / n AS denom,
        |    (p + 1.96 * 1.96 / (2.0 * n)) / (1.0 + 1.96 * 1.96 / n) AS center,
        |    1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n))
        |      / (1.0 + 1.96 * 1.96 / n) AS half
        |  FROM w)
        |SELECT variant, n_users, n_conv, p AS rate,
        |  center - half AS wilson_lo, center + half AS wilson_hi
        |FROM c""".stripMargin)),

    // Distribution-fit panel: normal / exponential / lognormal fitted
    // by moments, scored by the two-sided KS staircase distance at
    // every distinct value — which textbook family does `value`
    // actually follow, before anyone simulates or extrapolates tails.
    Query("ana_dist_fit", ((s: SparkSession, d: String) =>
      Drift.distributionFit(t(s, d, "events"), "value")),
      // Drift.distributionFit mirrored: distinct-value staircase,
      // moments panel, the Horner-erfc Φ with the sign branch, gridded
      // exp/ln cells, two-sided KS sup per family, argmin flag.
      Sql("""WITH base AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND value > 0.0),
        |pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1),
        |cumv AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM pv),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(FLOOR(v * v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS svv,
        |    CAST(SUM(CAST(FLOOR(LN(v) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sl,
        |    CAST(SUM(CAST(FLOOR((FLOOR(LN(v) * 1e6) / 1e6)
        |      * (FLOOR(LN(v) * 1e6) / 1e6) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sll
        |  FROM base),
        |mm AS (
        |  SELECT n, sv / CAST(n AS DOUBLE) AS mu,
        |    (svv - sv * sv / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vr,
        |    sl / CAST(n AS DOUBLE) AS mul,
        |    (sll - sl * sl / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS varl
        |  FROM m),
        |z AS (
        |  SELECT cumv.*, mm.*,
        |    (v - mu) / sqrt(vr) AS zn,
        |    (FLOOR(LN(v) * 1e6) / 1e6 - mul) / sqrt(varl) AS zl
        |  FROM cumv CROSS JOIN mm),
        |e1 AS (SELECT *, ABS(zn) / 1.4142135623730951 AS xn,
        |              ABS(zl) / 1.4142135623730951 AS xl FROM z),
        |e2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xn) AS tn,
        |              1.0 / (1.0 + 0.3275911 * xl) AS tl FROM e1),
        |e3 AS (
        |  SELECT *,
        |    0.5 * (FLOOR(((((1.061405429 * tn - 1.453152027) * tn + 1.421413741) * tn
        |      - 0.284496736) * tn + 0.254829592) * tn * EXP(-(xn * xn)) * 1e6) / 1e6) AS hn,
        |    0.5 * (FLOOR(((((1.061405429 * tl - 1.453152027) * tl + 1.421413741) * tl
        |      - 0.284496736) * tl + 0.254829592) * tl * EXP(-(xl * xl)) * 1e6) / 1e6) AS hl
        |  FROM e2),
        |f AS (
        |  SELECT *,
        |    CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) AS fe,
        |    CAST(cum - c AS DOUBLE) / CAST(n AS DOUBLE) AS fp,
        |    CASE WHEN zn < 0.0 THEN hn ELSE 1.0 - hn END AS fnorm,
        |    1.0 - FLOOR(EXP(-1.0 * v / mu) * 1e6) / 1e6 AS fexp,
        |    CASE WHEN zl < 0.0 THEN hl ELSE 1.0 - hl END AS flogn
        |  FROM e3),
        |pan AS (
        |  SELECT MAX(n) AS n, MAX(mu) AS mu, MAX(vr) AS vr,
        |    MAX(mul) AS mul, MAX(varl) AS varl,
        |    MAX(GREATEST(ABS(fe - fnorm), ABS(fp - fnorm))) AS d_norm,
        |    MAX(GREATEST(ABS(fe - fexp), ABS(fp - fexp))) AS d_exp,
        |    MAX(GREATEST(ABS(fe - flogn), ABS(fp - flogn))) AS d_logn
        |  FROM f),
        |rows0 AS (
        |  SELECT 'normal' AS dist_name, n, mu AS param1,
        |    sqrt(vr) AS param2, d_norm AS ks_distance FROM pan
        |  UNION ALL SELECT 'exponential', n, 1.0 / mu,
        |    CAST(NULL AS DOUBLE), d_exp FROM pan
        |  UNION ALL SELECT 'lognormal', n, mul, sqrt(varl), d_logn FROM pan),
        |b AS (SELECT MIN(ks_distance) AS mb FROM rows0)
        |SELECT dist_name, n, param1, param2, ks_distance,
        |  ks_distance = mb AS is_best
        |FROM rows0 CROSS JOIN b""".stripMargin)),

    // Always-valid sequential readout (mSPRT): per-day cumulative
    // enrollment/conversion panel with the mixture log LR and the
    // monotone always-valid log p — peeking-safe, prefix-sum/-max
    // machinery end to end.
    Query("ana_msprt", ((s: SparkSession, d: String) =>
      AnalyticsPack.msprtSequential(
        Sampling.splitAssign(
          t(s, d, "events").filter(col("user_id").isNotNull),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "split", "A",
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // AnalyticsPack.msprtSequential mirrored: per-user collapse,
      // additive day panel, window cumulative sums, 1e-6 grid-ln,
      // running MAX, parsed ln(0.05) boundary.
      Sql("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    UPPER(TRIM(event_type)) AS et, value,
        |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
        |         THEN 'A' ELSE 'B' END AS split
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |users AS (
        |  SELECT user_id, split, MIN(day) AS enr_d,
        |    MIN(CASE WHEN et = 'PURCHASE' AND value > 95 THEN day END) AS cnv_d
        |  FROM ev GROUP BY 1, 2),
        |enr AS (SELECT enr_d AS day,
        |    SUM(CASE WHEN split = 'A' THEN 1 ELSE 0 END) AS d_na,
        |    SUM(CASE WHEN split = 'B' THEN 1 ELSE 0 END) AS d_nb,
        |    0 AS d_ca, 0 AS d_cb
        |  FROM users GROUP BY 1),
        |cnv AS (SELECT cnv_d AS day, 0 AS d_na, 0 AS d_nb,
        |    SUM(CASE WHEN split = 'A' THEN 1 ELSE 0 END) AS d_ca,
        |    SUM(CASE WHEN split = 'B' THEN 1 ELSE 0 END) AS d_cb
        |  FROM users WHERE cnv_d IS NOT NULL GROUP BY 1),
        |byday AS (SELECT day, SUM(d_na) AS d_na, SUM(d_nb) AS d_nb,
        |    SUM(d_ca) AS d_ca, SUM(d_cb) AS d_cb
        |  FROM (SELECT * FROM enr UNION ALL SELECT * FROM cnv)
        |  GROUP BY 1),
        |cum AS (SELECT day,
        |    CAST(SUM(d_na) OVER (ORDER BY day) AS BIGINT) AS n_a,
        |    CAST(SUM(d_nb) OVER (ORDER BY day) AS BIGINT) AS n_b,
        |    CAST(SUM(d_ca) OVER (ORDER BY day) AS BIGINT) AS conv_a,
        |    CAST(SUM(d_cb) OVER (ORDER BY day) AS BIGINT) AS conv_b
        |  FROM byday),
        |v AS (SELECT *,
        |    conv_b / NULLIF(n_b, 0) - conv_a / NULLIF(n_a, 0) AS delta,
        |    ((conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |      * (1.0 - (conv_a + conv_b) / NULLIF(n_a + n_b, 0))
        |      * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0)) AS vn
        |  FROM cum),
        |ll AS (SELECT day, n_a, n_b, conv_a, conv_b,
        |    CASE WHEN vn IS NULL OR vn = 0.0 THEN NULL
        |         ELSE 0.5 * (FLOOR(LN(vn / (vn + 0.01)) * 1e6) / 1e6)
        |           + delta * delta * 0.01 / (2.0 * vn * (vn + 0.01)) END
        |      AS ln_lambda
        |  FROM v),
        |fin AS (SELECT *, MAX(ln_lambda) OVER (ORDER BY day) AS pm FROM ll)
        |SELECT day, n_a, n_b, conv_a, conv_b, ln_lambda,
        |  CASE WHEN pm IS NULL THEN NULL
        |       ELSE -GREATEST(pm, 0.0) END AS ln_p_always_valid,
        |  CASE WHEN pm IS NULL THEN NULL
        |       ELSE -GREATEST(pm, 0.0) < -2.995732273553991 END AS reject_5pct
        |FROM fin""".stripMargin)),

    // Inter-arrival gap panel per type (the evidence a sessionization
    // gap parameter is chosen by — p99 is the boundary candidate).
    // Monthly growth accounting: MAU decomposed into new/retained/
    // resurrected + churn and the quick ratio — join-only, windowless.
    Query("ana_growth_accounting", ((s: SparkSession, d: String) =>
      AnalyticsPack.growthAccounting(t(s, d, "events"))),
      // AnalyticsPack.growthAccounting mirrored: distinct user-months,
      // first-month panel, month-shifted joins, churn bounded to the
      // observed month panel, one guarded quotient.
      Sql("""WITH um AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS month
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |fm AS (SELECT user_id, MIN(month) AS first_month FROM um GROUP BY 1),
        |pv AS (SELECT user_id, CAST(month + INTERVAL 1 MONTH AS DATE) AS month FROM um),
        |cl AS (
        |  SELECT u.month,
        |    CASE WHEN u.month = f.first_month THEN 'new'
        |         WHEN p.user_id IS NOT NULL THEN 'retained'
        |         ELSE 'resurrected' END AS status
        |  FROM um u JOIN fm f USING (user_id)
        |  LEFT JOIN pv p ON p.user_id = u.user_id AND p.month = u.month),
        |mau AS (
        |  SELECT month, CAST(COUNT(*) AS BIGINT) AS mau,
        |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cl GROUP BY 1),
        |ch AS (
        |  SELECT p.month, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM pv p
        |  JOIN (SELECT DISTINCT month FROM um) mp ON mp.month = p.month
        |  LEFT JOIN um u ON u.user_id = p.user_id AND u.month = p.month
        |  WHERE u.user_id IS NULL GROUP BY 1)
        |SELECT m.month, mau, n_new, n_retained, n_resurrected,
        |  COALESCE(ch.n_churned, CAST(0 AS BIGINT)) AS n_churned,
        |  CAST(n_new + n_resurrected AS DOUBLE)
        |    / NULLIF(CAST(COALESCE(ch.n_churned, CAST(0 AS BIGINT)) AS DOUBLE), 0.0) AS quick_ratio
        |FROM mau m LEFT JOIN ch ON ch.month = m.month""".stripMargin)),

    // Goh-Barabasi burstiness + CV per event type over the same
    // within-user gaps as the interarrival panel: schedule vs bursts.
    Query("ana_burstiness", ((s: SparkSession, d: String) =>
      AnalyticsPack.burstiness(t(s, d, "events"))),
      // AnalyticsPack.burstiness mirrored: same per-user gap lag,
      // exact decimal moments, fixed-order IEEE panel math.
      Sql("""WITH base AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type_norm,
        |    epoch_ms(ts) AS ms, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |gaps AS (
        |  SELECT event_type_norm,
        |    ms - LAG(ms) OVER (PARTITION BY user_id, event_type_norm
        |                       ORDER BY ms, event_id) AS gap_ms
        |  FROM base),
        |m AS (
        |  SELECT event_type_norm, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    SUM(CAST(gap_ms AS DECIMAL(19,0))) AS s1,
        |    SUM(CAST(gap_ms AS DECIMAL(19,0)) * CAST(gap_ms AS DECIMAL(19,0))) AS s2
        |  FROM gaps WHERE gap_ms IS NOT NULL GROUP BY 1),
        |st AS (
        |  SELECT event_type_norm, n_gaps,
        |    CAST(s1 AS DOUBLE) / NULLIF(CAST(n_gaps AS DOUBLE), 0.0) AS mu,
        |    CAST(s2 AS DOUBLE) / NULLIF(CAST(n_gaps AS DOUBLE), 0.0)
        |      - (CAST(s1 AS DOUBLE) / NULLIF(CAST(n_gaps AS DOUBLE), 0.0))
        |        * (CAST(s1 AS DOUBLE) / NULLIF(CAST(n_gaps AS DOUBLE), 0.0)) AS var
        |  FROM m),
        |sd AS (
        |  SELECT *, CASE WHEN var < 0.0 THEN 0.0 ELSE sqrt(var) END AS sdv
        |  FROM st)
        |SELECT event_type_norm, n_gaps, mu AS mean_gap_ms, sdv AS std_gap_ms,
        |  sdv / NULLIF(mu, 0.0) AS cv,
        |  (sdv - mu) / NULLIF(sdv + mu, 0.0) AS burstiness
        |FROM sd""".stripMargin)),

    // HHI concentration of activity across users per type: exact
    // integer sum-of-squares, one terminal division; 1/H = effective
    // participant count.
    Query("ana_concentration_hhi", ((s: SparkSession, d: String) =>
      AnalyticsPack.concentrationHhi(t(s, d, "events"))),
      // AnalyticsPack.concentrationHhi mirrored: exact integer
      // sum-of-squares, identical terminal divisions.
      Sql("""WITH pu AS (
        |  SELECT UPPER(TRIM(event_type)) AS event_type_norm, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type_norm,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(n) AS BIGINT) AS n_events,
        |    SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS s2
        |  FROM pu GROUP BY 1),
        |h AS (
        |  SELECT *,
        |    CAST(s2 AS DOUBLE) / NULLIF(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE), 0.0) AS hhi,
        |    1.0 / NULLIF(CAST(n_users AS DOUBLE), 0.0) AS inv_n
        |  FROM m)
        |SELECT event_type_norm, n_users, n_events, hhi,
        |  (hhi - inv_n) / NULLIF(1.0 - inv_n, 0.0) AS hhi_normalized,
        |  1.0 / NULLIF(hhi, 0.0) AS effective_users
        |FROM h""".stripMargin)),

    // Mood's median test: global rank-bracket median, k x 2
    // above/below counts, gridded chi2 — the outlier-immune
    // shared-center screen before Kruskal-Wallis.
    Query("ana_median_test", ((s: SparkSession, d: String) =>
      AnalyticsPack.medianTest(t(s, d, "events"))),
      // AnalyticsPack.medianTest mirrored: quantile_cont median, k x 2
      // counts, gridded (O-E)^2/E decimal partials.
      Sql("""WITH ev AS (
        |  SELECT UPPER(TRIM(event_type)) AS event_type_norm, value
        |  FROM events WHERE value IS NOT NULL),
        |md AS (SELECT quantile_cont(CAST(value AS DOUBLE), 0.5) AS m FROM ev),
        |cnt AS (
        |  SELECT event_type_norm,
        |    CAST(SUM(CASE WHEN value > m THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |    CAST(SUM(CASE WHEN value <= m THEN 1 ELSE 0 END) AS BIGINT) AS n_below_eq
        |  FROM ev, md GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
        |    CAST(SUM(n_below_eq) AS BIGINT) AS tb,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM cnt),
        |wt AS (
        |  SELECT c.*, t.ta, t.tb, t.k, t.ta + t.tb AS n,
        |    c.n_above + c.n_below_eq AS rg
        |  FROM cnt c CROSS JOIN tot t),
        |ex AS (
        |  SELECT *,
        |    CAST(rg AS DOUBLE) * CAST(ta AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0) AS ea,
        |    CAST(rg AS DOUBLE) * CAST(tb AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0) AS eb
        |  FROM wt),
        |ch AS (
        |  SELECT CAST(
        |      SUM(CAST(FLOOR((CAST(n_above AS DOUBLE) - ea) * (CAST(n_above AS DOUBLE) - ea) / NULLIF(ea, 0.0) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |      + SUM(CAST(FLOOR((CAST(n_below_eq AS DOUBLE) - eb) * (CAST(n_below_eq AS DOUBLE) - eb) / NULLIF(eb, 0.0) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    AS DOUBLE) AS chi2,
        |    CAST(MAX(k) - 1 AS BIGINT) AS dof
        |  FROM ex)
        |SELECT event_type_norm, n_above, n_below_eq, ea AS exp_above, chi2, dof
        |FROM ex CROSS JOIN ch""".stripMargin)),

    Query("ana_interarrival", ((s: SparkSession, d: String) =>
      AnalyticsPack.interarrivalStats(t(s, d, "events"))),
      // Integer-ms gaps, quantile_cont percentile parity, exact mean.
      Sql("""WITH base AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type_norm,
        |    epoch_ms(ts) AS ms, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |gaps AS (
        |  SELECT event_type_norm,
        |    ms - LAG(ms) OVER (PARTITION BY user_id, event_type_norm
        |      ORDER BY ms, event_id) AS gap_ms
        |  FROM base)
        |SELECT event_type_norm,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap_ms) AS DOUBLE) / COUNT(*) AS mean_gap_ms,
        |  quantile_cont(gap_ms, 0.5) AS p50_gap_ms,
        |  quantile_cont(gap_ms, 0.9) AS p90_gap_ms,
        |  quantile_cont(gap_ms, 0.99) AS p99_gap_ms
        |FROM gaps WHERE gap_ms IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // Mann–Whitney U rank-sum test, weekend vs weekday values — the
    // nonparametric sibling of the abtest readout: midrank ties,
    // tie-corrected z, ranks over the distinct-value panel through
    // the two-phase prefix sum (never a global data window).
    Query("ana_mann_whitney", ((s: SparkSession, d: String) =>
      AnalyticsPack.mannWhitney(
        t(s, d, "events").filter(col("ts").isNotNull),
        "value", Temporal.isoDow(col("ts")) >= 6)),
      // AnalyticsPack.mannWhitney mirrored: distinct-value panel,
      // half-integer midranks summed as DECIMAL(28,1), tie-corrected
      // normal z over exact integer moments.
      Sql("""WITH r0 AS (
        |  SELECT value AS v, isodow(ts) >= 6 AS ga
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |p AS (
        |  SELECT v,
        |    SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS nb,
        |    COUNT(*) AS nt
        |  FROM r0 GROUP BY 1),
        |rk AS (SELECT *, SUM(nt) OVER (ORDER BY v) AS cum FROM p),
        |mid AS (
        |  SELECT *,
        |    CAST(cum - nt AS DOUBLE) + CAST(nt + 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM rk),
        |agg AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
        |    CAST(SUM(nb) AS BIGINT) AS n_b,
        |    SUM(CAST(CAST(na AS DOUBLE) * midrank AS DECIMAL(28,1))) AS r_a,
        |    CAST(SUM(nt * nt * nt - nt) AS BIGINT) AS ties
        |  FROM mid),
        |u AS (
        |  SELECT *,
        |    r_a - CAST(n_a * (n_a + 1) / 2.0 AS DECIMAL(28,1)) AS u_a,
        |    n_a + n_b AS nn
        |  FROM agg),
        |vv AS (
        |  SELECT *,
        |    CAST(n_a * n_b AS DECIMAL(28,1)) - u_a AS u_b,
        |    CAST(n_a * n_b AS DOUBLE) / 12.0 *
        |      (CAST(nn + 1 AS DOUBLE)
        |        - CAST(ties AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE)) AS var
        |  FROM u)
        |SELECT n_a, n_b,
        |  CAST(u_a AS DOUBLE) AS u_a, CAST(u_b AS DOUBLE) AS u_b,
        |  CAST(r_a AS DOUBLE) AS r_a,
        |  CASE WHEN var = 0.0 THEN 0.0
        |       ELSE (CAST(u_a AS DOUBLE) - CAST(n_a * n_b AS DOUBLE) / 2.0)
        |            / sqrt(var) END AS z
        |FROM vv""".stripMargin)),

    // Welch two-sample t-test on the same weekend/weekday split — the
    // PARAMETRIC sibling of the rank-sum test: unequal-variance t,
    // Welch–Satterthwaite df, Cohen's d / Hedges' g effect sizes from
    // one exact-decimal moment panel.
    Query("ana_welch_ttest", ((s: SparkSession, d: String) =>
      AnalyticsPack.welchTTest(
        t(s, d, "events").filter(col("ts").isNotNull),
        "value", Temporal.isoDow(col("ts")) >= 6)),
      // AnalyticsPack.welchTTest mirrored: q6 values, decimal moment
      // sums per CASE side, then the identical fixed-order IEEE panel
      // math (variance, t, Welch df, Cohen d, Hedges g).
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(value * 1e6) / 1e6 AS v, isodow(ts) >= 6 AS ga
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(CASE WHEN ga THEN v ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS s_a,
        |    CAST(SUM(CAST(CASE WHEN ga THEN FLOOR(v * v * 1e6) / 1e6 ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS ss_a,
        |    CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(CASE WHEN ga THEN 0.0 ELSE v END AS DECIMAL(28,6))) AS DOUBLE) AS s_b,
        |    CAST(SUM(CAST(CASE WHEN ga THEN 0.0 ELSE FLOOR(v * v * 1e6) / 1e6 END AS DECIMAL(28,6))) AS DOUBLE) AS ss_b
        |  FROM r0),
        |st AS (
        |  SELECT n_a, n_b,
        |    s_a / NULLIF(CAST(n_a AS DOUBLE), 0.0) AS mean_a,
        |    s_b / NULLIF(CAST(n_b AS DOUBLE), 0.0) AS mean_b,
        |    (ss_a - s_a * s_a / NULLIF(CAST(n_a AS DOUBLE), 0.0))
        |      / NULLIF(CAST(n_a AS DOUBLE) - 1.0, 0.0) AS var_a,
        |    (ss_b - s_b * s_b / NULLIF(CAST(n_b AS DOUBLE), 0.0))
        |      / NULLIF(CAST(n_b AS DOUBLE) - 1.0, 0.0) AS var_b
        |  FROM m),
        |se AS (
        |  SELECT *,
        |    var_a / NULLIF(CAST(n_a AS DOUBLE), 0.0) AS se_a,
        |    var_b / NULLIF(CAST(n_b AS DOUBLE), 0.0) AS se_b
        |  FROM st),
        |tt AS (
        |  SELECT *,
        |    (mean_a - mean_b) / NULLIF(sqrt(se_a + se_b), 0.0) AS t_stat,
        |    (se_a + se_b) * (se_a + se_b)
        |      / NULLIF(se_a * se_a / NULLIF(CAST(n_a AS DOUBLE) - 1.0, 0.0)
        |             + se_b * se_b / NULLIF(CAST(n_b AS DOUBLE) - 1.0, 0.0), 0.0) AS df_welch,
        |    (mean_a - mean_b) / NULLIF(sqrt(((CAST(n_a AS DOUBLE) - 1.0) * var_a
        |        + (CAST(n_b AS DOUBLE) - 1.0) * var_b)
        |      / NULLIF(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0, 0.0)), 0.0) AS cohen_d
        |  FROM se)
        |SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
        |  mean_a - mean_b AS mean_diff, t_stat, df_welch, cohen_d,
        |  cohen_d * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 9.0)) AS hedges_g,
        |  ABS(t_stat) > 1.96 AS significant_normal_5pct
        |FROM tt""".stripMargin)),

    // Lead/lag cross-correlation: does CLICK volume predict PURCHASE
    // volume L days later — one Pearson per lag in [-7, 7] over the
    // co-observed day panels, exact decimal moments per lag.
    Query("ana_xcorr_lags", ((s: SparkSession, d: String) =>
      AnalyticsPack.xcorrLags(t(s, d, "events"), "CLICK", "PURCHASE")),
      // AnalyticsPack.xcorrLags mirrored: co-observed day panels per
      // lag, HUGEINT moments, one fixed-order double corr per lag.
      Sql("""WITH a AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS na
        |  FROM events
        |  WHERE ts IS NOT NULL AND UPPER(TRIM(event_type)) = 'CLICK'
        |  GROUP BY 1),
        |b AS (
        |  SELECT CAST(ts AS DATE) AS db, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM events
        |  WHERE ts IS NOT NULL AND UPPER(TRIM(event_type)) = 'PURCHASE'
        |  GROUP BY 1),
        |l AS (SELECT CAST(UNNEST(range(-7, 8)) AS INTEGER) AS lag),
        |j AS (SELECT lag, na, nb
        |  FROM a CROSS JOIN l JOIN b ON a.d + lag = b.db),
        |agg AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(na) AS sa, SUM(nb) AS sb, SUM(na*na) AS saa,
        |    SUM(nb*nb) AS sbb, SUM(na*nb) AS sab
        |  FROM j GROUP BY 1)
        |SELECT lag, n_days,
        |  (CAST(n_days*sab AS DOUBLE) - CAST(sa*sb AS DOUBLE))
        |    / NULLIF(sqrt(CAST(n_days*saa AS DOUBLE) - CAST(sa*sa AS DOUBLE))
        |        * sqrt(CAST(n_days*sbb AS DOUBLE) - CAST(sb*sb AS DOUBLE)), 0)
        |    AS xcorr
        |FROM agg""".stripMargin)),

    // Granger causality (lag-1) between every ordered event-type
    // pair's daily series: restricted vs unrestricted OLS, F-test
    // with the χ²(1) 5% critical verdict — the directed upgrade of
    // the xcorr panel.
    Query("ana_granger", ((s: SparkSession, d: String) =>
      AnalyticsPack.granger(t(s, d, "events"))),
      // AnalyticsPack.granger mirrored: daily panel, lag-1 joins over
      // all ordered type pairs, exact integer moments, the n·Σ−Σ·Σ
      // centered forms cast to double ONCE each, the same fixed IEEE
      // sequence for det/b/RSS/F, same NULL guards and 3.841459
      // verdict constant.
      Sql("""WITH daily AS (
        |  SELECT UPPER(TRIM(event_type)) AS et, CAST(ts AS DATE) AS d,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |rws AS (
        |  SELECT x.et AS cause, y.et AS effect, y.n AS y, l.n AS y1, x.n AS x1
        |  FROM daily y
        |  JOIN daily l ON l.et = y.et AND l.d + 1 = y.d
        |  JOIN daily x ON x.d + 1 = y.d AND x.et <> y.et),
        |m AS (
        |  SELECT cause, effect, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(y) AS sy, SUM(y1) AS sy1, SUM(x1) AS sx1,
        |    SUM(y*y) AS syy, SUM(y1*y1) AS s11, SUM(x1*x1) AS s22,
        |    SUM(y*y1) AS sy_1, SUM(y*x1) AS sy_2, SUM(y1*x1) AS s12
        |  FROM rws GROUP BY 1, 2),
        |c AS (
        |  SELECT cause, effect, n_days,
        |    CAST(n_days*s11 AS DOUBLE) - CAST(sy1*sy1 AS DOUBLE) AS a11,
        |    CAST(n_days*s22 AS DOUBLE) - CAST(sx1*sx1 AS DOUBLE) AS a22,
        |    CAST(n_days*s12 AS DOUBLE) - CAST(sy1*sx1 AS DOUBLE) AS a12,
        |    CAST(n_days*sy_1 AS DOUBLE) - CAST(sy1*sy AS DOUBLE) AS a1y,
        |    CAST(n_days*sy_2 AS DOUBLE) - CAST(sx1*sy AS DOUBLE) AS a2y,
        |    CAST(n_days*syy AS DOUBLE) - CAST(sy*sy AS DOUBLE) AS ayy
        |  FROM m),
        |s AS (
        |  SELECT cause, effect, n_days, a11,
        |    a11*a22 - a12*a12 AS det,
        |    (a1y*a22 - a2y*a12) / (a11*a22 - a12*a12) AS b1,
        |    (a2y*a11 - a1y*a12) / (a11*a22 - a12*a12) AS b2,
        |    a1y, a2y, ayy
        |  FROM c),
        |r AS (
        |  SELECT cause, effect, n_days, a11, det, b2,
        |    ayy - b1*a1y - b2*a2y AS rss_u,
        |    ayy - a1y*a1y/a11 AS rss_r
        |  FROM s)
        |SELECT cause, effect, n_days,
        |  CASE WHEN n_days >= 4 AND det <> 0.0
        |       THEN FLOOR(b2 * 1e6) / 1e6 END AS b_cause,
        |  CASE WHEN n_days >= 4 AND det <> 0.0 AND a11 <> 0.0 AND rss_u > 0.0
        |       THEN FLOOR((rss_r - rss_u) * CAST(n_days - 3 AS DOUBLE) / rss_u
        |                  * 1e6) / 1e6 END AS f_stat,
        |  CASE WHEN n_days >= 4 AND det <> 0.0 AND a11 <> 0.0 AND rss_u > 0.0
        |       THEN (FLOOR((rss_r - rss_u) * CAST(n_days - 3 AS DOUBLE) / rss_u
        |                   * 1e6) / 1e6) > 3.841459 END AS granger_5pct
        |FROM r""".stripMargin)),

    // Engle–Granger cointegration between every ordered event-type
    // pair's daily series: step-1 levels OLS, step-2 ADF(0) on the
    // gridded residuals, MacKinnon −3.33613 verdict — the long-run
    // equilibrium companion of the granger panel.
    Query("ana_cointegration", ((s: SparkSession, d: String) =>
      AnalyticsPack.cointegration(t(s, d, "events"))),
      // AnalyticsPack.cointegration mirrored: step-1 exact-moment OLS
      // (one double cast per centered form), residuals through the
      // identical (y − a) − b·x IEEE sequence floor-gridded to
      // micro-unit BIGINTs, step-2 HUGEINT moment sums (µ² units
      // cancel in γ and t), same guards and −3.33613 verdict.
      Sql("""WITH daily AS (
        |  SELECT UPPER(TRIM(event_type)) AS et, CAST(ts AS DATE) AS d,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |rws AS (
        |  SELECT x.et AS series_x, y.et AS series_y, y.d, x.n AS x, y.n AS y
        |  FROM daily y JOIN daily x ON x.d = y.d AND x.et <> y.et),
        |m1 AS (
        |  SELECT series_x, series_y, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
        |  FROM rws GROUP BY 1, 2),
        |coef AS (
        |  SELECT series_x, series_y, n_days,
        |    CASE WHEN CAST(n_days*sxx AS DOUBLE) - CAST(sx*sx AS DOUBLE) <> 0.0
        |         THEN (CAST(n_days*sxy AS DOUBLE) - CAST(sx*sy AS DOUBLE))
        |              / (CAST(n_days*sxx AS DOUBLE) - CAST(sx*sx AS DOUBLE))
        |    END AS b,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
        |  FROM m1),
        |coef2 AS (
        |  SELECT series_x, series_y, n_days, b,
        |    (syd - b * sxd) / CAST(n_days AS DOUBLE) AS a,
        |    FLOOR(b * 1e6) / 1e6 AS beta
        |  FROM coef),
        |resid AS (
        |  SELECT r.series_x, r.series_y, r.d,
        |    CAST(FLOOR((CAST(r.y AS DOUBLE) - c.a
        |                - c.b * CAST(r.x AS DOUBLE)) * 1e6) AS BIGINT) AS e6
        |  FROM rws r JOIN coef2 c USING (series_x, series_y)
        |  WHERE c.b IS NOT NULL),
        |diffs AS (
        |  SELECT c.series_x, c.series_y, p.e6 AS pe6, c.e6 - p.e6 AS de6
        |  FROM resid c JOIN resid p
        |    ON p.series_x = c.series_x AND p.series_y = c.series_y
        |   AND p.d + 1 = c.d),
        |m2 AS (
        |  SELECT series_x, series_y, CAST(COUNT(*) AS BIGINT) AS n_diffs,
        |    SUM(CAST(pe6 AS HUGEINT) * CAST(de6 AS HUGEINT)) AS sed,
        |    SUM(CAST(pe6 AS HUGEINT) * CAST(pe6 AS HUGEINT)) AS see,
        |    SUM(CAST(de6 AS HUGEINT) * CAST(de6 AS HUGEINT)) AS sdd
        |  FROM diffs GROUP BY 1, 2),
        |s AS (
        |  SELECT series_x, series_y, n_diffs,
        |    CAST(sed AS DOUBLE) AS ed, CAST(see AS DOUBLE) AS ee,
        |    CAST(sdd AS DOUBLE) AS dd
        |  FROM m2),
        |r AS (
        |  SELECT series_x, series_y, n_diffs, ee,
        |    ed / ee AS gamma,
        |    dd - ed * ed / ee AS rss
        |  FROM s)
        |SELECT c.series_x, c.series_y, c.n_days,
        |  COALESCE(r.n_diffs, CAST(0 AS BIGINT)) AS n_diffs, c.beta,
        |  CASE WHEN c.beta IS NOT NULL AND r.n_diffs >= 3 AND r.ee <> 0.0
        |       THEN FLOOR(r.gamma * 1e6) / 1e6 END AS gamma,
        |  CASE WHEN c.beta IS NOT NULL AND r.n_diffs >= 3 AND r.ee <> 0.0
        |            AND r.rss > 0.0
        |       THEN FLOOR(r.gamma / sqrt((r.rss / CAST(r.n_diffs - 1 AS DOUBLE))
        |                                 / r.ee) * 1e6) / 1e6 END AS adf_t,
        |  CASE WHEN c.beta IS NOT NULL AND r.n_diffs >= 3 AND r.ee <> 0.0
        |            AND r.rss > 0.0
        |       THEN (FLOOR(r.gamma / sqrt((r.rss / CAST(r.n_diffs - 1 AS DOUBLE))
        |                                  / r.ee) * 1e6) / 1e6) < -3.33613
        |  END AS coint_5pct
        |FROM coef2 c LEFT JOIN r USING (series_x, series_y)""".stripMargin)),

    // 2×2 odds-ratio readout: weekend exposure vs high-value-purchase
    // outcome, log-scale Wald interval (grid-ln, parsed 1.96), the
    // epidemiology companion of the abtest readout.
    Query("ana_odds_ratio", ((s: SparkSession, d: String) =>
      AnalyticsPack.oddsRatio(
        t(s, d, "events").filter(col("ts").isNotNull && col("value").isNotNull),
        Temporal.isoDow(col("ts")) >= 6,
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // AnalyticsPack.oddsRatio mirrored: exact-integer cell products,
      // grid-ln, parsed 1.96, log-scale interval and verdict.
      Sql("""WITH g AS (
        |  SELECT
        |    SUM(CASE WHEN isodow(ts) >= 6 AND UPPER(TRIM(event_type)) = 'PURCHASE' AND value > 95 THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN isodow(ts) >= 6 AND NOT (UPPER(TRIM(event_type)) = 'PURCHASE' AND value > 95) THEN 1 ELSE 0 END) AS b,
        |    SUM(CASE WHEN isodow(ts) < 6 AND UPPER(TRIM(event_type)) = 'PURCHASE' AND value > 95 THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN isodow(ts) < 6 AND NOT (UPPER(TRIM(event_type)) = 'PURCHASE' AND value > 95) THEN 1 ELSE 0 END) AS d
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |s AS (SELECT
        |    CAST(a AS BIGINT) AS n_exp_pos, CAST(b AS BIGINT) AS n_exp_neg,
        |    CAST(c AS BIGINT) AS n_ctl_pos, CAST(d AS BIGINT) AS n_ctl_neg,
        |    (a = 0 OR b = 0 OR c = 0 OR d = 0) AS empty,
        |    CAST(a*d AS DOUBLE) / CAST(b*c AS DOUBLE) AS orr,
        |    FLOOR(LN(CAST(a*d AS DOUBLE) / CAST(b*c AS DOUBLE)) * 1e6) / 1e6 AS lnor,
        |    sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |       + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
        |  FROM g)
        |SELECT n_exp_pos, n_exp_neg, n_ctl_pos, n_ctl_neg,
        |  CASE WHEN empty THEN NULL ELSE orr END AS odds_ratio,
        |  CASE WHEN empty THEN NULL ELSE lnor END AS ln_or,
        |  CASE WHEN empty THEN NULL ELSE lnor - 1.96 * se END AS ln_or_lo95,
        |  CASE WHEN empty THEN NULL ELSE lnor + 1.96 * se END AS ln_or_hi95,
        |  CASE WHEN empty THEN NULL
        |       ELSE (lnor - 1.96 * se > 0.0 OR lnor + 1.96 * se < 0.0)
        |  END AS significant_5pct
        |FROM s""".stripMargin)),

    // SPC p-chart: the daily purchase rate against its binomial 3σ
    // control limits — the rate monitor next to the drift/anomaly/
    // CUSUM tiers.
    Query("ana_control_chart", ((s: SparkSession, d: String) =>
      AnalyticsPack.controlChartP(t(s, d, "events"),
        upper(trim(col("event_type"))) === "PURCHASE")),
      // AnalyticsPack.controlChartP mirrored: exact-integer rate and
      // center-line quotients, fixed-order IEEE limits, comparisons.
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN UPPER(TRIM(event_type)) = 'PURCHASE'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM daily),
        |lim AS (SELECT day, n, n_pos,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        |    CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS p_bar,
        |    CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
        |      + 3.0 * sqrt(CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
        |          * (1.0 - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
        |          / CAST(n AS DOUBLE)) AS ucl,
        |    GREATEST(0.0, CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
        |      - 3.0 * sqrt(CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
        |          * (1.0 - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
        |          / CAST(n AS DOUBLE))) AS lcl
        |  FROM daily CROSS JOIN tot)
        |SELECT day, n, n_pos, rate, p_bar, ucl, lcl,
        |  (rate > ucl OR rate < lcl) AS out_of_control
        |FROM lim""".stripMargin)),

    // Kruskal–Wallis H: does value's distribution differ across the
    // K event types — the K-group generalization of the rank-sum
    // test, same doubled-midrank prefix-sum machinery, tie-corrected.
    Query("ana_kruskal_wallis", ((s: SparkSession, d: String) =>
      AnalyticsPack.kruskalWallis(t(s, d, "events"), "value", "event_type")),
      // AnalyticsPack.kruskalWallis mirrored: doubled midranks over
      // the distinct-value panel, per-group HUGEINT rank sums, the
      // 1e-12-grid share terms summed as DECIMAL(18,12), fixed-order
      // H and tie correction.
      Sql("""WITH r0 AS (
        |  SELECT value AS v, event_type AS g FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |cell AS (SELECT v, g, COUNT(*) AS nvg FROM r0 GROUP BY 1, 2),
        |pv AS (SELECT v, SUM(nvg) AS nt FROM cell GROUP BY 1),
        |dv AS (SELECT v, nt, 2*(SUM(nt) OVER (ORDER BY v) - nt) + nt + 1 AS d2
        |  FROM pv),
        |grp AS (SELECT g, SUM(nvg) AS ng, SUM(CAST(nvg AS HUGEINT) * d2) AS r2g
        |  FROM cell JOIN dv USING (v) GROUP BY g),
        |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups FROM grp),
        |tie AS (SELECT SUM(CAST(nt AS HUGEINT)*nt*nt - nt) AS t3 FROM pv),
        |sq AS (SELECT SUM(CAST(FLOOR(s*s / CAST(ng AS DOUBLE) * 1e12) / 1e12
        |    AS DECIMAL(18,12))) AS sq
        |  FROM (SELECT ng,
        |      CAST(r2g AS DOUBLE) / CAST(CAST(n AS HUGEINT)*(n+1) AS DOUBLE) AS s
        |    FROM grp CROSS JOIN tot)),
        |fin AS (SELECT n, n_groups,
        |  3.0 * CAST(CAST(n AS HUGEINT)*(n+1) AS DOUBLE) * CAST(sq AS DOUBLE)
        |    - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |  1.0 - CAST(t3 AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)*n*n - n AS DOUBLE) AS c
        |  FROM sq CROSS JOIN tot CROSS JOIN tie)
        |SELECT n, n_groups, h,
        |  CASE WHEN c = 0.0 THEN NULL ELSE h / c END AS h_corrected
        |FROM fin""".stripMargin)),

    // One-way ANOVA F across the K event types — the parametric
    // K-group sibling of Kruskal–Wallis: between/within SS
    // decomposition, F and η² from per-group exact decimal moments.
    Query("ana_anova_f", ((s: SparkSession, d: String) =>
      AnalyticsPack.anovaF(t(s, d, "events"), "value", "event_type")),
      // AnalyticsPack.anovaF mirrored: per-group decimal moments,
      // grid-quantized s²/n panel partials, fixed-order F/η².
      Sql("""WITH r0 AS (
        |  SELECT FLOOR(value * 1e6) / 1e6 AS v, event_type AS g
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |grp AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(CAST(v AS DECIMAL(28,6))) AS sdec,
        |    SUM(CAST(FLOOR(v * v * 1e6) / 1e6 AS DECIMAL(28,6))) AS ssdec
        |  FROM r0 GROUP BY g),
        |panel AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CAST(FLOOR(CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sum_sg2n,
        |    CAST(SUM(sdec) AS DOUBLE) AS grand_s,
        |    CAST(SUM(ssdec) AS DOUBLE) AS grand_ss
        |  FROM grp),
        |calc AS (
        |  SELECT *,
        |    sum_sg2n - grand_s * grand_s / NULLIF(CAST(n_total AS DOUBLE), 0.0) AS ssb,
        |    grand_ss - sum_sg2n AS ssw
        |  FROM panel)
        |SELECT k_groups, n_total, ssb AS ss_between, ssw AS ss_within,
        |  CAST(k_groups AS DOUBLE) - 1.0 AS df_between,
        |  CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE) AS df_within,
        |  (ssb / NULLIF(CAST(k_groups AS DOUBLE) - 1.0, 0.0))
        |    / NULLIF(ssw / NULLIF(CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE), 0.0), 0.0) AS f_stat,
        |  ssb / NULLIF(ssb + ssw, 0.0) AS eta_sq
        |FROM calc""".stripMargin)),

    // Brown–Forsythe variance-homogeneity W on the same grouping —
    // the spread-equality assumption check ANOVA rests on: Levene's
    // test on |x − group median|, delegated to the ANOVA machinery.
    Query("ana_brown_forsythe", ((s: SparkSession, d: String) =>
      AnalyticsPack.brownForsythe(t(s, d, "events"), "value", "event_type")),
      // AnalyticsPack.brownForsythe mirrored: quantile_cont group
      // medians, |x − med| deviations, then the anovaF body verbatim
      // (the deviation is floor-gridded exactly once, matching the
      // operator's single q6).
      Sql("""WITH rows0 AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v0
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |meds AS (SELECT g, quantile_cont(v0, 0.5) AS med FROM rows0 GROUP BY g),
        |r0 AS (
        |  SELECT rows0.g AS g,
        |    FLOOR(ABS(v0 - med) * 1e6) / 1e6 AS v
        |  FROM rows0 JOIN meds ON rows0.g = meds.g),
        |grp AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(CAST(v AS DECIMAL(28,6))) AS sdec,
        |    SUM(CAST(FLOOR(v * v * 1e6) / 1e6 AS DECIMAL(28,6))) AS ssdec
        |  FROM r0 GROUP BY g),
        |panel AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CAST(FLOOR(CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sum_sg2n,
        |    CAST(SUM(sdec) AS DOUBLE) AS grand_s,
        |    CAST(SUM(ssdec) AS DOUBLE) AS grand_ss
        |  FROM grp),
        |calc AS (
        |  SELECT *,
        |    sum_sg2n - grand_s * grand_s / NULLIF(CAST(n_total AS DOUBLE), 0.0) AS ssb,
        |    grand_ss - sum_sg2n AS ssw
        |  FROM panel)
        |SELECT k_groups, n_total,
        |  (ssb / NULLIF(CAST(k_groups AS DOUBLE) - 1.0, 0.0))
        |    / NULLIF(ssw / NULLIF(CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE), 0.0), 0.0) AS w_stat,
        |  CAST(k_groups AS DOUBLE) - 1.0 AS df_between,
        |  CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE) AS df_within
        |FROM calc""".stripMargin)),

    // Quantile normalization: per-type daily demand aligned to the
    // cross-type rank-mean distribution (ordering preserved).
    Query("ana_quantile_normalize", ((s: SparkSession, d: String) =>
      AnalyticsPack.quantileNormalize(servingValid(s, d))),
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS y
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT event_type_norm, date_sk, y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type_norm
         |      ORDER BY y, date_sk) AS INTEGER) AS rank
         |  FROM byday),
         |refs AS (
         |  SELECT rank,
         |    ROUND(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS y_qnorm,
         |    COUNT(*) AS n_groups
         |  FROM ranked GROUP BY 1)
         |SELECT event_type_norm, date_sk, y, rank, n_groups, y_qnorm
         |FROM ranked JOIN refs USING (rank)""".stripMargin)),

    // Quasi-experimental DiD readout: md5-deterministic T/C groups,
    // calendar split at 20240115 — shared trends cancel in the
    // (T_post−T_pre)−(C_post−C_pre) estimate.
    Query("ana_did", ((s: SparkSession, d: String) =>
      AnalyticsPack.diffInDiff(
        Sampling.splitAssign(
          servingValid(s, d).filter(col("user_id").isNotNull),
          Seq("T" -> 0.5, "C" -> 0.5), Seq("user_id")),
        "split", "T", "C", col("value"), col("date_sk") >= 20240115)),
      // DiD: same md5 split as the A/B oracles, calendar split at
      // 20240115, 4dp money means, fixed subtraction order.
      Sql(s"""WITH ev AS (
         |  SELECT user_id, value, date_sk,
         |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
         |         THEN 'T' ELSE 'C' END AS split
         |  FROM ($servingValidSql) WHERE user_id IS NOT NULL),
         |agg AS (
         |  SELECT
         |    COUNT(CASE WHEN split = 'T' AND date_sk < 20240115 THEN 1 END) AS n_treat_pre,
         |    ROUND(CAST(SUM(CASE WHEN split = 'T' AND date_sk < 20240115 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
         |      / NULLIF(COUNT(CASE WHEN split = 'T' AND date_sk < 20240115 THEN 1 END), 0), 4) AS mean_treat_pre,
         |    COUNT(CASE WHEN split = 'T' AND date_sk >= 20240115 THEN 1 END) AS n_treat_post,
         |    ROUND(CAST(SUM(CASE WHEN split = 'T' AND date_sk >= 20240115 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
         |      / NULLIF(COUNT(CASE WHEN split = 'T' AND date_sk >= 20240115 THEN 1 END), 0), 4) AS mean_treat_post,
         |    COUNT(CASE WHEN split = 'C' AND date_sk < 20240115 THEN 1 END) AS n_ctrl_pre,
         |    ROUND(CAST(SUM(CASE WHEN split = 'C' AND date_sk < 20240115 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
         |      / NULLIF(COUNT(CASE WHEN split = 'C' AND date_sk < 20240115 THEN 1 END), 0), 4) AS mean_ctrl_pre,
         |    COUNT(CASE WHEN split = 'C' AND date_sk >= 20240115 THEN 1 END) AS n_ctrl_post,
         |    ROUND(CAST(SUM(CASE WHEN split = 'C' AND date_sk >= 20240115 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
         |      / NULLIF(COUNT(CASE WHEN split = 'C' AND date_sk >= 20240115 THEN 1 END), 0), 4) AS mean_ctrl_post
         |  FROM ev)
         |SELECT agg.*,
         |  (mean_treat_post - mean_treat_pre) - (mean_ctrl_post - mean_ctrl_pre) AS did_estimate
         |FROM agg""".stripMargin)),

    // Experiment power panel: required per-arm n across an MDE grid
    // vs what the assignment has — "can this test detect a 5% lift"
    // answered at design time. Literal z constants, raw IEEE panel
    // math, NULL on unreachable targets.
    Query("ana_abtest_power", ((s: SparkSession, d: String) =>
      AnalyticsPack.abtestPower(
        Sampling.splitAssign(
          t(s, d, "events").filter(col("user_id").isNotNull),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "split", "A", "B",
        upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95)),
      // Power replay: the same assignment + conversion, the z-sum
      // squared as a PARSED LITERAL (7.848879734349088 — libm erfinv
      // differs across engines, literals do not), raw IEEE panel math.
      Sql("""WITH ev AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS et, value,
        |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
        |         THEN 'A' ELSE 'B' END AS split
        |  FROM events WHERE user_id IS NOT NULL),
        |agg AS (
        |  SELECT
        |    COUNT(DISTINCT CASE WHEN split = 'A' THEN user_id END) AS n_a,
        |    COUNT(DISTINCT CASE WHEN split = 'B' THEN user_id END) AS n_b,
        |    COUNT(DISTINCT CASE WHEN split = 'A' AND et = 'PURCHASE' AND value > 95 THEN user_id END) AS conv_a
        |  FROM ev),
        |grid AS (
        |  SELECT n_a, n_b, conv_a / NULLIF(n_a, 0) AS p_control, g.mde_rel
        |  FROM agg, (SELECT UNNEST([0.02e0, 0.05e0, 0.10e0, 0.20e0, 0.50e0]) AS mde_rel) g),
        |t AS (
        |  SELECT *, CASE WHEN p_control IS NOT NULL
        |      AND p_control * (1.0 + mde_rel) < 1.0
        |    THEN p_control * (1.0 + mde_rel) END AS p_target
        |  FROM grid)
        |SELECT mde_rel, p_control, p_target,
        |  CASE WHEN p_target IS NOT NULL AND p_target <> p_control THEN
        |    CAST(CEIL(7.848879734349088
        |      * (p_control * (1.0 - p_control) + p_target * (1.0 - p_target))
        |      / ((p_target - p_control) * (p_target - p_control))) AS BIGINT)
        |  END AS required_n_per_arm,
        |  LEAST(n_a, n_b) AS available_n_per_arm,
        |  CASE WHEN p_target IS NOT NULL AND p_target <> p_control THEN
        |    LEAST(n_a, n_b) >= CAST(CEIL(7.848879734349088
        |      * (p_control * (1.0 - p_control) + p_target * (1.0 - p_target))
        |      / ((p_target - p_control) * (p_target - p_control))) AS BIGINT)
        |  END AS feasible
        |FROM t""".stripMargin)),

    // 2-D Pareto skyline of the parts catalog: cheapest-for-the-size
    // frontier (price lower-better, size higher-better) — every part
    // flagged, dominance derived from the distributed prefix max.
    Query("ana_skyline_parts", ((s: SparkSession, d: String) =>
      AnalyticsPack.skyline2d(
        t(s, d, "part").select(col("p_partkey").as("id"),
          col("p_retailprice").as("x"),
          col("p_size").cast("long").as("y")),
        "x", "y")),
      // Skyline replay: the declarative dominance form (per-x maxima
      // + the strictly-below-x running max) — two different
      // algorithms, identical rows; comparisons only, no arithmetic.
      Sql("""WITH pts AS (
        |  SELECT p_partkey AS id, p_retailprice AS x, CAST(p_size AS BIGINT) AS y
        |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |panel AS (
        |  SELECT x, MAX(y) AS max_y_at_x FROM pts GROUP BY 1),
        |panel2 AS (
        |  SELECT x, max_y_at_x,
        |    MAX(max_y_at_x) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_y_below_x
        |  FROM panel)
        |SELECT p.id, p.x, p.y, q.max_y_at_x, q.max_y_below_x,
        |  NOT ((q.max_y_below_x IS NOT NULL AND q.max_y_below_x >= p.y)
        |       OR q.max_y_at_x > p.y) AS is_skyline
        |FROM pts p JOIN panel2 q ON q.x = p.x""".stripMargin)),

    // CUPED variance-reduced readout over the same md5 A/B split:
    // pre-period (date_sk < 20240115) user spend as the covariate,
    // pooled theta, per-arm raw vs adjusted mean/variance and the
    // variance-reduction share. One fact collapse to the user panel;
    // everything after is panel math.
    Query("ana_cuped", ((s: SparkSession, d: String) =>
      AnalyticsPack.cupedReadout(
        Sampling.splitAssign(
          servingValid(s, d).filter(col("user_id").isNotNull),
          Seq("A" -> 0.5, "B" -> 0.5), Seq("user_id")),
        "split", col("value"), col("date_sk") < 20240115)),
      // CUPED replay: the same md5 split, per-user pre/post money
      // sums narrowed to DECIMAL(18,2), pooled theta from exact
      // decimal moments in the Spark op order, adjusted values on the
      // 1e-6 floor grid before their DECIMAL(28,6) partials.
      Sql(s"""WITH ev AS (
         |  SELECT user_id, value, date_sk,
         |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) < '8000'
         |         THEN 'A' ELSE 'B' END AS split
         |  FROM ($servingValidSql) WHERE user_id IS NOT NULL),
         |users AS (
         |  SELECT user_id, split AS arm,
         |    CAST(COALESCE(SUM(CASE WHEN date_sk < 20240115 THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS x,
         |    CAST(COALESCE(SUM(CASE WHEN NOT (date_sk < 20240115) THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS y
         |  FROM ev GROUP BY 1, 2),
         |pooled AS (
         |  SELECT
         |    CAST(CAST(CAST(SUM(x) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2 / CAST(COUNT(*) AS DOUBLE) AS mean_x,
         |    (CAST(CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,4))) AS DECIMAL(28,4)) * 10000 AS BIGINT) AS DOUBLE) / 1e4
         |       - CAST(CAST(CAST(SUM(x) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2 * (CAST(CAST(CAST(SUM(y) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2) / CAST(COUNT(*) AS DOUBLE))
         |      / NULLIF(CAST(CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,4))) AS DECIMAL(28,4)) * 10000 AS BIGINT) AS DOUBLE) / 1e4
         |       - CAST(CAST(CAST(SUM(x) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2 * (CAST(CAST(CAST(SUM(x) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2) / CAST(COUNT(*) AS DOUBLE), 0) AS theta
         |  FROM users),
         |adj AS (
         |  SELECT u.arm, u.x, u.y, p.theta,
         |    FLOOR((CAST(u.y AS DOUBLE) - p.theta * (CAST(u.x AS DOUBLE) - p.mean_x)) * 1e6) / 1e6 AS ya
         |  FROM users u CROSS JOIN pooled p),
         |arms AS (
         |  SELECT arm, COUNT(*) AS n_users, MIN(theta) AS theta,
         |    CAST(CAST(CAST(SUM(y) AS DECIMAL(28,2)) * 100 AS BIGINT) AS DOUBLE) / 1e2 AS sy,
         |    CAST(CAST(CAST(SUM(CAST(y * y AS DECIMAL(28,4))) AS DECIMAL(28,4)) * 10000 AS BIGINT) AS DOUBLE) / 1e4 AS syy,
         |    CAST(CAST(CAST(SUM(CAST(ya AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 AS sa,
         |    CAST(CAST(CAST(SUM(CAST(FLOOR(ya * ya * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 AS saa,
         |    CAST(COUNT(*) AS DOUBLE) AS nd
         |  FROM adj GROUP BY 1),
         |panel AS (
         |  SELECT arm, n_users, theta,
         |    sy / nd AS mean_raw, sa / nd AS mean_adj,
         |    (syy - sy * sy / nd) / nd AS var_raw,
         |    (saa - sa * sa / nd) / nd AS var_adj
         |  FROM arms)
         |SELECT arm, n_users, theta, mean_raw, mean_adj, var_raw, var_adj,
         |  1.0 - var_adj / NULLIF(var_raw, 0) AS var_reduction
         |FROM panel""".stripMargin)),

    // Daily new-vs-returning user split from first-seen days.
    Query("ana_new_vs_returning", ((s: SparkSession, d: String) =>
      AnalyticsPack.newVsReturning(t(s, d, "events"))),
      Sql("""WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |f AS (SELECT user_id, MIN(d) AS first_seen FROM ud GROUP BY 1)
        |SELECT d AS day,
        |  COUNT(DISTINCT CASE WHEN d = first_seen THEN user_id END) AS n_new,
        |  COUNT(DISTINCT CASE WHEN d <> first_seen THEN user_id END) AS n_returning
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1""".stripMargin)),

    // Cumulative registered-user curve: per first-seen day, new users
    // + the running total — one user-keyed min aggregate collapses
    // the fact, then the running sum is exact longs over the ≤#days
    // panel (the day-panel window convention). Days with no first
    // sighting don't appear (pair with ana_gapfill_30m to regularize).
    Query("ana_cumulative_users", ((s: SparkSession, d: String) =>
      AnalyticsPack.cumulativeUsers(t(s, d, "events"))),
      Sql("""WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY 1),
        |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d""".stripMargin)),

    // Day-of-week seasonal component + per-day residuals.
    Query("ana_dow_seasonality", ((s: SparkSession, d: String) =>
      AnalyticsPack.dowSeasonality(t(s, d, "events"))),
      // isoDow <-> isodow parity (the B1 convention); means are the
      // one-division rule over DECIMAL sums.
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS dem
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT *, CAST(isodow(day) AS INTEGER) AS iso_dow FROM daily),
        |m AS (
        |  SELECT iso_dow, CAST(SUM(dem) AS DOUBLE) / COUNT(*) AS dow_mean_demand
        |  FROM d2 GROUP BY 1)
        |SELECT day, iso_dow, n_events,
        |  CAST(dem AS DOUBLE) AS demand, dow_mean_demand,
        |  CAST(dem AS DOUBLE) - dow_mean_demand AS residual
        |FROM d2 JOIN m USING (iso_dow)""".stripMargin)),

    // Additive trend / weekly-seasonal / residual split of the daily
    // series (STL-lite): centered 7-day MA trend, iso-dow means of
    // the detrended values, all on the day panel.
    Query("ana_seasonal_decompose", ((s: SparkSession, d: String) =>
      AnalyticsPack.seasonalDecompose(t(s, d, "events"))),
      // STL-lite: full-window 7-day MA trend (decimal 7-sum, one
      // divide), iso-dow mean of the grid-quantized detrended values
      // (§5 rule), raw-IEEE residual.
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS dem
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT *, CAST(isodow(day) AS INTEGER) AS iso_dow FROM daily),
        |tr AS (
        |  SELECT *, CASE WHEN COUNT(*) OVER w = 7
        |    THEN CAST(SUM(dem) OVER w AS DOUBLE) / 7.0 END AS trend
        |  FROM d2 WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (
        |  SELECT iso_dow,
        |    CAST(SUM(CAST(floor((CAST(dem AS DOUBLE) - trend) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM tr WHERE trend IS NOT NULL GROUP BY 1)
        |SELECT day, iso_dow, CAST(dem AS DOUBLE) AS demand, trend, seasonal,
        |  CAST(dem AS DOUBLE) - trend - seasonal AS residual
        |FROM tr LEFT JOIN se USING (iso_dow)""".stripMargin)),

    // Hyndman STL strength diagnostics over the decomposition: does
    // the weekly cycle / the trend carry signal (F ≈ 0 = noise).
    Query("ana_seasonal_strength", ((s: SparkSession, d: String) =>
      AnalyticsPack.seasonalStrength(t(s, d, "events"))),
      // The decomposition replayed, then §5 quantized-moment
      // variances (4dp means, 1e-6 squared deviations, DECIMAL
      // partials) and the two strength ratios at the edge.
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS dem
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT *, CAST(isodow(day) AS INTEGER) AS iso_dow FROM daily),
        |tr AS (
        |  SELECT *, CASE WHEN COUNT(*) OVER w = 7
        |    THEN CAST(SUM(dem) OVER w AS DOUBLE) / 7.0 END AS trend
        |  FROM d2 WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (
        |  SELECT iso_dow,
        |    CAST(SUM(CAST(floor((CAST(dem AS DOUBLE) - trend) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM tr WHERE trend IS NOT NULL GROUP BY 1),
        |dec AS (
        |  SELECT trend, seasonal,
        |    CAST(dem AS DOUBLE) - trend - seasonal AS residual
        |  FROM tr LEFT JOIN se USING (iso_dow)
        |  WHERE trend IS NOT NULL),
        |base AS (
        |  SELECT residual AS r, seasonal + residual AS sr,
        |    trend + residual AS tr2
        |  FROM dec),
        |means AS (
        |  SELECT COUNT(*) AS n_days,
        |    ROUND(CAST(CAST(CAST(SUM(CAST(FLOOR(r * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*), 4) AS mr,
        |    ROUND(CAST(CAST(CAST(SUM(CAST(FLOOR(sr * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*), 4) AS msr,
        |    ROUND(CAST(CAST(CAST(SUM(CAST(FLOOR(tr2 * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*), 4) AS mtr
        |  FROM base),
        |v AS (
        |  SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
        |    CAST(CAST(CAST(SUM(CAST(FLOOR((r - mr) * (r - mr) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / MAX(n_days) AS var_r,
        |    CAST(CAST(CAST(SUM(CAST(FLOOR((sr - msr) * (sr - msr) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / MAX(n_days) AS var_sr,
        |    CAST(CAST(CAST(SUM(CAST(FLOOR((tr2 - mtr) * (tr2 - mtr) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 / MAX(n_days) AS var_tr
        |  FROM base, means)
        |SELECT n_days, var_r, var_sr, var_tr,
        |  GREATEST(0.0, 1.0 - var_r / NULLIF(var_sr, 0)) AS f_seasonal,
        |  GREATEST(0.0, 1.0 - var_r / NULLIF(var_tr, 0)) AS f_trend
        |FROM v""".stripMargin)),

    // MAD robust-z over the decomposition residuals: "unusual for
    // that weekday" — the seasonality-aware anomaly tier.
    Query("anomaly_seasonal", ((s: SparkSession, d: String) =>
      AnalyticsPack.anomalySeasonal(t(s, d, "events"))),
      // The decomposition replayed, then exact-order-statistic
      // median/MAD on the residuals (quantile_cont ≡ percentile, the
      // F2 parity) and a RAW robust-z quotient.
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS dem
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |d2 AS (SELECT *, CAST(isodow(day) AS INTEGER) AS iso_dow FROM daily),
        |tr AS (
        |  SELECT *, CASE WHEN COUNT(*) OVER w = 7
        |    THEN CAST(SUM(dem) OVER w AS DOUBLE) / 7.0 END AS trend
        |  FROM d2 WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (
        |  SELECT iso_dow,
        |    CAST(SUM(CAST(floor((CAST(dem AS DOUBLE) - trend) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM tr WHERE trend IS NOT NULL GROUP BY 1),
        |dec AS (
        |  SELECT day, iso_dow, CAST(dem AS DOUBLE) AS demand,
        |    CAST(dem AS DOUBLE) - trend - seasonal AS residual
        |  FROM tr LEFT JOIN se USING (iso_dow)
        |  WHERE CAST(dem AS DOUBLE) - trend - seasonal IS NOT NULL),
        |md AS (SELECT quantile_cont(residual, 0.5) AS med FROM dec),
        |ad AS (SELECT quantile_cont(ABS(residual - med), 0.5) AS mad FROM dec, md)
        |SELECT day, iso_dow, demand, residual, med, mad,
        |  (residual - med) / (CASE WHEN mad * 1.4826 = 0 THEN NULL
        |                           ELSE mad * 1.4826 END) AS robust_z,
        |  ABS((residual - med) / (CASE WHEN mad * 1.4826 = 0 THEN NULL
        |                               ELSE mad * 1.4826 END)) > 3.5 AS is_anomaly
        |FROM dec, md, ad""".stripMargin)),

    // Pareto curve: cumulative demand share by user rank through the
    // distributed two-phase prefix sum — NEVER a global-window
    // running total over the relation.
    Query("ana_pareto_users", ((s: SparkSession, d: String) => {
      val totals = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(money(col("value"))).as("total_demand"))
      val grand = totals.agg(sum(col("total_demand")).as("__grand"))
      PrefixSum.globalOrdered(totals,
          Seq(col("total_demand").desc, col("user_id")), "total_demand")
        .crossJoin(broadcast(grand))
        .select(col("user_id"),
          col("total_demand").cast("double").as("total_demand"),
          col("row_rank").as("user_rank"),
          (col("prefix_sum").cast("double") / col("__grand").cast("double"))
            .as("cum_share"))
    }),
      // The oracle writes the naive global window; the Spark plan is
      // the two-phase distributed prefix sum — identical output for
      // the unique (total DESC, user) order.
      Sql("""WITH totals AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total_demand
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |g AS (SELECT SUM(total_demand) AS grand FROM totals),
        |w AS (
        |  SELECT user_id, total_demand,
        |    SUM(total_demand) OVER (ORDER BY total_demand DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    ROW_NUMBER() OVER (ORDER BY total_demand DESC, user_id) AS user_rank
        |  FROM totals)
        |SELECT user_id, CAST(total_demand AS DOUBLE) AS total_demand,
        |  user_rank, CAST(cum AS DOUBLE) / CAST(grand AS DOUBLE) AS cum_share
        |FROM w, g""".stripMargin)),

    // First-order Markov transition matrix over per-user event
    // sequences; shares of each source type's outgoing total.
    Query("ana_transition_matrix", ((s: SparkSession, d: String) =>
      AnalyticsPack.transitionMatrix(t(s, d, "events"))),
      Sql("""WITH e AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS et
        |  FROM events WHERE user_id IS NOT NULL),
        |tr AS (
        |  SELECT et AS from_type,
        |    LEAD(et) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS total_from
        |      FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, n / total_from AS p
        |FROM c JOIN t USING (from_type)""".stripMargin)),

    // Top-3 busiest days per event type via DENSE_RANK (ties kept).
    Query("ana_top_days_per_type", ((s: SparkSession, d: String) =>
      AnalyticsPack.topDaysPerType(t(s, d, "events"), topN = 3)),
      Sql("""SELECT * FROM (
        |  SELECT event_type_norm, day, n_events,
        |    CAST(DENSE_RANK() OVER (PARTITION BY event_type_norm
        |                            ORDER BY n_events DESC) AS INTEGER) AS rnk
        |  FROM (
        |    SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |      CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        |    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    GROUP BY 1, 2))
        |WHERE rnk <= 3""".stripMargin)),

    // Complete day × 48-slot grid with zero-filled counts and
    // last-observation-carried-forward sums.
    Query("ana_gapfill_30m", ((s: SparkSession, d: String) =>
      TimeSeries.gapFill30m(t(s, d, "events"), "ts", "value")),
      Sql("""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(hour(ts)*2 + CASE WHEN minute(ts) >= 30 THEN 1 ELSE 0 END
        |         AS INTEGER) AS slot,
        |    value
        |  FROM events WHERE ts IS NOT NULL),
        |obs AS (
        |  SELECT day, slot, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |  FROM ev GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.day, s.slot
        |  FROM (SELECT DISTINCT day FROM ev) d,
        |       (SELECT CAST(UNNEST(generate_series(0, 47)) AS INTEGER) AS slot) s)
        |SELECT g.day, g.slot,
        |  COALESCE(o.n_events, 0) AS n_events, o.value_sum,
        |  LAST_VALUE(o.value_sum IGNORE NULLS) OVER (
        |    PARTITION BY g.day ORDER BY g.slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
        |FROM grid g LEFT JOIN obs o ON g.day = o.day AND g.slot = o.slot""".stripMargin)),

    // Per-group z-score outliers: exact decimal moments + broadcast
    // stats join back — the training-data outlier filter.
    Query("anomaly_zscore", ((s: SparkSession, d: String) =>
      AnalyticsPack.anomalyZscore(t(s, d, "events"))),
      Sql("""WITH ev AS (
        |  SELECT event_id, UPPER(TRIM(event_type)) AS event_type_norm, value
        |  FROM events WHERE value IS NOT NULL),
        |moms AS (
        |  SELECT event_type_norm, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(28,6))) AS s1,
        |    SUM(CAST(value * value AS DECIMAL(28,6))) AS s2
        |  FROM ev GROUP BY 1 HAVING COUNT(*) >= 2),
        |st AS (
        |  SELECT event_type_norm,
        |    CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS std
        |  FROM moms),
        |scored AS (
        |  SELECT event_id, event_type_norm, value,
        |    ROUND(mean, 3) AS grupo_media, ROUND(std, 3) AS grupo_std,
        |    ROUND((value - mean) / NULLIF(std, 0), 3) AS z
        |  FROM ev JOIN st USING (event_type_norm))
        |SELECT * FROM scored WHERE ABS(z) > 3""".stripMargin)),

    // Robust (median/MAD) outlier twin — survives the heavy tails
    // that inflate a z-score's own mean/std.
    Query("anomaly_mad", ((s: SparkSession, d: String) =>
      AnalyticsPack.anomalyMad(t(s, d, "events"))),
      Sql("""WITH ev AS (
        |  SELECT event_id, UPPER(TRIM(event_type)) AS event_type_norm, value
        |  FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type_norm, quantile_cont(value, 0.5) AS med
        |  FROM ev GROUP BY 1 HAVING COUNT(*) >= 2),
        |dev AS (
        |  SELECT ev.event_id, ev.event_type_norm, ev.value, med.med,
        |    abs(ev.value - med.med) AS absdev
        |  FROM ev JOIN med USING (event_type_norm)),
        |mad AS (
        |  SELECT event_type_norm, quantile_cont(absdev, 0.5) AS mad
        |  FROM dev GROUP BY 1),
        |scored AS (
        |  SELECT event_id, event_type_norm, value,
        |    ROUND(med, 3) AS grupo_mediana, ROUND(mad, 3) AS grupo_mad,
        |    ROUND((value - med) / NULLIF(mad * 1.4826, 0), 3) AS robust_z
        |  FROM dev JOIN mad USING (event_type_norm))
        |SELECT * FROM scored WHERE abs(robust_z) > 3.5""".stripMargin)),

    // Price elasticity of demand per part brand: grouped log-log OLS
    // slope of ln(quantity) on ln(unit price), gridded lns, one scan.
    Query("ana_price_elasticity", ((s: SparkSession, d: String) =>
      MlLite.logLogElasticity(
        t(s, d, "lineitem")
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_quantity"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              / col("l_quantity")).as("unit_price")),
        "p_brand", "l_quantity", "unit_price")),
      // MlLite.logLogElasticity mirrored: gridded lns, q6-refloored
      // products, decimal moment partials, fixed-order slope/corr.
      Sql("""WITH r0 AS (
        |  SELECT p_brand,
        |    FLOOR(ln(l_extendedprice * (1.0 - l_discount) / l_quantity) * 1e6) / 1e6 AS x,
        |    FLOOR(ln(l_quantity) * 1e6) / 1e6 AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity IS NOT NULL AND l_quantity > 0
        |    AND l_extendedprice * (1.0 - l_discount) / l_quantity > 0),
        |m AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(FLOOR(x * x * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(FLOOR(x * y * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(FLOOR(y * y * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM r0 GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n,
        |    sxx - sx * sx / NULLIF(CAST(n AS DOUBLE), 0.0) AS cxx,
        |    sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0.0) AS cxy,
        |    syy - sy * sy / NULLIF(CAST(n AS DOUBLE), 0.0) AS cyy,
        |    sx, sy
        |  FROM m),
        |s AS (
        |  SELECT *, cxy / NULLIF(cxx, 0.0) AS slope,
        |    (CASE WHEN cxx < 0.0 THEN NULL ELSE sqrt(cxx) END)
        |      * (CASE WHEN cyy < 0.0 THEN NULL ELSE sqrt(cyy) END) AS denom
        |  FROM c)
        |SELECT p_brand, n, slope AS elasticity,
        |  (sy - slope * sx) / NULLIF(CAST(n AS DOUBLE), 0.0) AS intercept,
        |  cxy / NULLIF(denom, 0.0) AS corr
        |FROM s""".stripMargin)),

    // Multi-level ROLLUP rollup (mode × day → mode totals → grand
    // total) in ONE pass — Catalyst expands grouping sets with
    // map-side partial aggregation, replacing three separate scans.
    Query("ana_rollup_demand", ((s: SparkSession, d: String) =>
      t(s, d, "events")
        .rollup(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum"))),
      Sql("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY ROLLUP (UPPER(TRIM(event_type)), CAST(ts AS DATE))""".stripMargin)),

    // Full CUBE over (type, day) — all four grouping sets (detail,
    // per-type, per-day, grand total) in ONE pass via Catalyst's
    // grouping-set Expand with map-side partials, same cost class as
    // the rollup's three; grouping_id disambiguates a subtotal NULL
    // from a NULL in the data (the rollup can't see per-day totals
    // at all — that's the set CUBE adds).
    Query("ana_cube_demand", ((s: SparkSession, d: String) =>
      t(s, d, "events")
        .cube(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(grouping_id().as("grouping_set_id"),
          count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum"))),
      // DuckDB GROUPING(a, b) carries Spark's grouping_id() bit layout
      // (leftmost column = most significant bit, 1 = aggregated away).
      Sql("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  CAST(GROUPING(UPPER(TRIM(event_type)), CAST(ts AS DATE)) AS BIGINT)
        |    AS grouping_set_id,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY CUBE (UPPER(TRIM(event_type)), CAST(ts AS DATE))""".stripMargin)),

    // Per-customer fulfillment-interval UNION: merged busy blocks,
    // covered days vs span — the utilization view over the same
    // closed [orderdate, last-shipment] intervals E18 pairs up.
    // Key-bounded windows, exact long lengths, one raw quotient.
    Query("ana_interval_union", ((s: SparkSession, d: String) => {
      val epoch = lit("1970-01-01").cast("date")
      val shipEnd = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("ship_end"))
      val iv = t(s, d, "orders")
        .join(shipEnd, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("custkey"),
          datediff(to_date(col("o_orderdate")), epoch).cast("long").as("lo"),
          datediff(col("ship_end"), epoch).cast("long").as("hi"))
      AnalyticsPack.intervalUnion(iv, "custkey", "lo", "hi")
        .withColumnRenamed("key", "custkey")
    }),
      // Interval-union replay: running-max-hi sweep per customer
      // (closed semantics: lo > prev max starts a block), blocks
      // collapse to (min lo, max hi), exact long lengths, raw quotient.
      Sql("""WITH ivd AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS ok,
        |    CAST(o_orderdate AS DATE) AS lo_d,
        |    MAX(CAST(l_shipdate AS DATE)) AS hi_d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3
        |  HAVING MAX(CAST(l_shipdate AS DATE)) >= CAST(o_orderdate AS DATE)),
        |iv AS (
        |  SELECT custkey,
        |    CAST(lo_d - DATE '1970-01-01' AS BIGINT) AS lo,
        |    CAST(hi_d - DATE '1970-01-01' AS BIGINT) AS hi
        |  FROM ivd),
        |m AS (
        |  SELECT custkey, lo, hi,
        |    CASE WHEN MAX(hi) OVER (PARTITION BY custkey ORDER BY lo, hi
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR lo > MAX(hi) OVER (PARTITION BY custkey ORDER BY lo, hi
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS nb
        |  FROM iv),
        |blk AS (
        |  SELECT custkey, lo, hi,
        |    SUM(nb) OVER (PARTITION BY custkey ORDER BY lo, hi
        |      ROWS UNBOUNDED PRECEDING) AS block
        |  FROM m),
        |g AS (
        |  SELECT custkey, block, MIN(lo) AS b_lo, MAX(hi) AS b_hi,
        |    CAST(COUNT(*) AS BIGINT) AS n_iv
        |  FROM blk GROUP BY 1, 2),
        |per AS (
        |  SELECT custkey,
        |    CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(b_hi - b_lo + 1) AS BIGINT) AS covered_units,
        |    CAST(MIN(b_lo) AS BIGINT) AS span_lo,
        |    CAST(MAX(b_hi) AS BIGINT) AS span_hi
        |  FROM g GROUP BY 1)
        |SELECT custkey, n_intervals, n_blocks, covered_units, span_lo, span_hi,
        |  CAST(span_hi - span_lo + 1 AS BIGINT) AS span_units,
        |  CAST(covered_units AS DOUBLE) / CAST(span_hi - span_lo + 1 AS DOUBLE)
        |    AS coverage_ratio
        |FROM per""".stripMargin)),

    // RFM segmentation over orders: quartile-scored recency/
    // frequency/monetary + a first-match segment ladder. One
    // customer-panel collapse, broadcast anchor + exact-percentile
    // thresholds, pure codegen scoring.
    Query("ana_rfm_segments", ((s: SparkSession, d: String) =>
      AnalyticsPack.rfmSegments(t(s, d, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice")),
      // RFM replay: same panel collapse, quantile_cont thresholds
      // (the percentile parity), identical CASE ladders.
      Sql("""WITH base AS (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS amt
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |anchor AS (SELECT MAX(d) AS anchor_d FROM base),
        |rfm AS (
        |  SELECT custkey,
        |    CAST(MIN(anchor_d - d) AS BIGINT) AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(amt) AS DOUBLE) AS monetary
        |  FROM base, anchor GROUP BY 1),
        |thr AS (
        |  SELECT quantile_cont(recency_days, 0.25) AS r25,
        |    quantile_cont(recency_days, 0.5) AS r50,
        |    quantile_cont(recency_days, 0.75) AS r75,
        |    quantile_cont(frequency, 0.25) AS f25,
        |    quantile_cont(frequency, 0.5) AS f50,
        |    quantile_cont(frequency, 0.75) AS f75,
        |    quantile_cont(monetary, 0.25) AS m25,
        |    quantile_cont(monetary, 0.5) AS m50,
        |    quantile_cont(monetary, 0.75) AS m75
        |  FROM rfm),
        |scored AS (
        |  SELECT custkey, recency_days, frequency, monetary,
        |    CASE WHEN recency_days <= r25 THEN 4
        |         WHEN recency_days <= r50 THEN 3
        |         WHEN recency_days <= r75 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN frequency >= f75 THEN 4
        |         WHEN frequency >= f50 THEN 3
        |         WHEN frequency >= f25 THEN 2 ELSE 1 END AS f_score,
        |    CASE WHEN monetary >= m75 THEN 4
        |         WHEN monetary >= m50 THEN 3
        |         WHEN monetary >= m25 THEN 2 ELSE 1 END AS m_score
        |  FROM rfm, thr)
        |SELECT custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'CHAMPION'
        |       WHEN r_score >= 3 AND f_score >= 3 THEN 'LOYAL'
        |       WHEN m_score >= 4 THEN 'BIG_SPENDER'
        |       WHEN r_score <= 2 AND f_score >= 3 THEN 'AT_RISK'
        |       WHEN r_score <= 1 AND f_score <= 2 THEN 'LOST'
        |       ELSE 'REGULAR' END AS segment
        |FROM scored""".stripMargin)),

    // Forecast backtest: persistence (lag-1) and seasonal-naive
    // (lag-7) baselines scored per type (MAE/MAPE/bias) — the
    // evaluation tier any shipped forecast must beat; calendar lag
    // joins on the day panel, never row offsets.
    // ACF diagnostic panel (lags 1..7, calendar-lagged): which lags
    // carry signal — the measurement under the forecast family.
    Query("ana_autocorrelation", ((s: SparkSession, d: String) =>
      AnalyticsPack.autocorrelation(servingValid(s, d), maxLag = 7)),
      // ACF: 4dp mean, 1e-6-grid deviation products, DECIMAL(28,6)
      // partials, one edge division per (type, lag).
      Sql(acfOracleSql(servingValidSql))),

    // Ljung-Box portmanteau whiteness verdict over the ACF panel
    // (even dof -> the exact Poisson-sum chi2 tail, no gamma needed).
    Query("ana_ljung_box", ((s: SparkSession, d: String) =>
      AnalyticsPack.ljungBox(servingValid(s, d), maxLag = 6)),
      // AnalyticsPack.ljungBox mirrored: the ACF panel (lags 1..6 of
      // the same 7-lag SQL), 1e-12-grid r^2/(n-k) terms as exact
      // DECIMAL(28,12), Q = n(n+2)*s in fixed order, and the EVEN-dof
      // chi2 tail as the exact Poisson sum e^{-q}(0.5q^2+q+1), p
      // floor-gridded at 1e-6 (the house exp convention).
      Sql(s"""WITH acfp AS (
         |  SELECT * FROM (${acfOracleSql(servingValidSql)}) WHERE lag <= 6),
         |np AS (
         |  SELECT event_type_norm,
         |    CAST(COUNT(DISTINCT date_sk) AS BIGINT) AS n_days
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL GROUP BY 1),
         |ag AS (
         |  SELECT a.event_type_norm,
         |    CAST(COUNT(*) AS BIGINT) AS nl,
         |    CAST(SUM(CAST(FLOOR(a.acf * a.acf
         |        / CAST(n.n_days - a.lag AS DOUBLE) * 1e12) / 1e12
         |      AS DECIMAL(28,12))) AS DOUBLE) AS s
         |  FROM acfp a JOIN np n USING (event_type_norm)
         |  WHERE a.acf IS NOT NULL AND n.n_days > a.lag
         |  GROUP BY 1),
         |q AS (
         |  SELECT n.event_type_norm, n.n_days,
         |    CAST(COALESCE(ag.nl, 0) AS BIGINT) AS n_lags,
         |    CASE WHEN COALESCE(ag.nl, 0) = 6 THEN
         |      CAST(n.n_days AS DOUBLE) * CAST(n.n_days + 2 AS DOUBLE) * ag.s
         |    END AS q_stat,
         |    CAST(6 AS BIGINT) AS dof
         |  FROM np n LEFT JOIN ag USING (event_type_norm)),
         |p AS (
         |  SELECT *,
         |    FLOOR(EXP(-(q_stat / 2.0))
         |      * ((0.5 * (q_stat / 2.0) + 1.0) * (q_stat / 2.0) + 1.0)
         |      * 1e6) / 1e6 AS p_value
         |  FROM q)
         |SELECT event_type_norm, n_days, n_lags, q_stat, dof, p_value,
         |  p_value > 0.05 AS white_noise
         |FROM p""".stripMargin)),

    // Wald-Wolfowitz runs test: above/below-median run counts vs the
    // exact exchangeability moments - the randomness screen
    // orthogonal to the ACF's linear-correlation view.
    Query("ana_runs_test", ((s: SparkSession, d: String) =>
      AnalyticsPack.runsTest(servingValid(s, d))),
      // AnalyticsPack.runsTest mirrored: same byday collapse,
      // quantile_cont median (the exactQuantilesBy parity), ties
      // dropped, LAG-window run starts, exact run-count moments and
      // the A&S Horner erfc p gridded at 1e-6.
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
         |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |med AS (
         |  SELECT event_type_norm, quantile_cont(y, 0.5) AS med
         |  FROM byday GROUP BY 1),
         |signed AS (
         |  SELECT b.event_type_norm, b.d, b.y > m.med AS up
         |  FROM byday b JOIN med m USING (event_type_norm)
         |  WHERE b.y <> m.med),
         |runsrc AS (
         |  SELECT event_type_norm, up,
         |    CASE WHEN LAG(up) OVER (PARTITION BY event_type_norm ORDER BY d) IS NULL
         |           OR LAG(up) OVER (PARTITION BY event_type_norm ORDER BY d) <> up
         |         THEN 1 ELSE 0 END AS new_run
         |  FROM signed),
         |g AS (
         |  SELECT event_type_norm,
         |    CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |    CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
         |    CAST(SUM(new_run) AS BIGINT) AS n_runs
         |  FROM runsrc GROUP BY 1),
         |mo AS (
         |  SELECT *,
         |    2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
         |      / CAST(n_above + n_below AS DOUBLE) + 1.0 AS expected_runs
         |  FROM g),
         |vz AS (
         |  SELECT *,
         |    (expected_runs - 1.0) * (expected_runs - 2.0)
         |      / (CAST(n_above + n_below AS DOUBLE) - 1.0) AS variance
         |  FROM mo),
         |z AS (
         |  SELECT event_type_norm, n_above, n_below, n_runs, expected_runs,
         |    CASE WHEN n_above > 0 AND n_below > 0 AND variance > 0 THEN
         |      (CAST(n_runs AS DOUBLE) - expected_runs) / SQRT(variance)
         |    END AS z_score
         |  FROM vz),
         |px AS (SELECT *, ABS(z_score) / 1.4142135623730951 AS x FROM z),
         |pt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM px),
         |pp AS (
         |  SELECT *,
         |    FLOOR(((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
         |      - 0.284496736) * t + 0.254829592) * t * EXP(-(x * x)) * 1e6) / 1e6
         |      AS p_value
         |  FROM pt)
         |SELECT event_type_norm, n_above, n_below, n_runs, expected_runs,
         |  z_score, p_value, p_value > 0.05 AS random_5pct
         |FROM pp""".stripMargin)),

    // Mann-Kendall monotone-trend significance (tie-corrected,
    // continuity-corrected) - the verdict ana_theil_sen's slope
    // estimate pairs with.
    Query("ana_mann_kendall", ((s: SparkSession, d: String) =>
      AnalyticsPack.mannKendall(servingValid(s, d))),
      // AnalyticsPack.mannKendall mirrored: byday collapse, the
      // panel^2 day-pair sign sum, exact integer tie terms, the /18
      // variance, continuity-corrected z and the Horner erfc p.
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
         |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |sp AS (
         |  SELECT a.event_type_norm,
         |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
         |                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM byday a JOIN byday b
         |    ON a.event_type_norm = b.event_type_norm AND a.d < b.d
         |  GROUP BY 1),
         |np AS (
         |  SELECT event_type_norm, CAST(COUNT(*) AS BIGINT) AS n_days
         |  FROM byday GROUP BY 1),
         |tp AS (
         |  SELECT event_type_norm,
         |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         |  FROM (SELECT event_type_norm, CAST(COUNT(*) AS BIGINT) AS t
         |        FROM byday GROUP BY event_type_norm, y)
         |  GROUP BY 1),
         |j AS (
         |  SELECT n.event_type_norm, n.n_days, s.s_stat,
         |    CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
         |      - tp.tie_term AS DOUBLE) / 18.0 AS var_s
         |  FROM np n LEFT JOIN sp s USING (event_type_norm)
         |  LEFT JOIN tp USING (event_type_norm)),
         |z AS (
         |  SELECT *,
         |    CASE WHEN var_s > 0 THEN
         |      CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
         |           WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
         |           ELSE 0.0 END
         |    END AS z_score
         |  FROM j),
         |px AS (SELECT *, ABS(z_score) / 1.4142135623730951 AS x FROM z),
         |pt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM px),
         |pp AS (
         |  SELECT *,
         |    FLOOR(((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
         |      - 0.284496736) * t + 0.254829592) * t * EXP(-(x * x)) * 1e6) / 1e6
         |      AS p_value
         |  FROM pt)
         |SELECT event_type_norm, n_days, s_stat, var_s, z_score, p_value,
         |  CASE WHEN p_value IS NULL THEN NULL
         |       WHEN p_value <= 0.05 AND s_stat > 0 THEN 'increasing'
         |       WHEN p_value <= 0.05 AND s_stat < 0 THEN 'decreasing'
         |       ELSE 'no_trend' END AS trend
         |FROM pp""".stripMargin)),

    // Friedman blocked-rank test across day-of-week treatments: the
    // formal seasonality verdict (complete Monday-aligned weeks as
    // blocks, k=7 -> the even-dof exact chi2 tail).
    Query("ana_friedman_dow", ((s: SparkSession, d: String) =>
      AnalyticsPack.friedmanDow(servingValid(s, d))),
      // AnalyticsPack.friedmanDow mirrored: integer day arithmetic
      // against the 1970-01-05 Monday epoch for dow/week, complete
      // blocks only, RANK+COUNT midranks, the /56 and /336 constants
      // (k=7), tie-corrected chi2, the even-dof Poisson-sum tail.
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
         |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |dw AS (
         |  SELECT *,
         |    ((CAST(d - DATE '1970-01-05' AS BIGINT) % 7) + 7) % 7 AS dow
         |  FROM byday),
         |wkd AS (SELECT *, d - CAST(dow AS INTEGER) AS wk FROM dw),
         |complete AS (
         |  SELECT event_type_norm, wk FROM wkd
         |  GROUP BY 1, 2 HAVING COUNT(*) = 7),
         |blocks AS (
         |  SELECT w.* FROM wkd w JOIN complete USING (event_type_norm, wk)),
         |ranked AS (
         |  SELECT event_type_norm, wk, dow, y,
         |    CAST(RANK() OVER (PARTITION BY event_type_norm, wk ORDER BY y) AS DOUBLE)
         |      + CAST(COUNT(*) OVER (PARTITION BY event_type_norm, wk, y) - 1 AS DOUBLE) / 2.0
         |      AS midrank
         |  FROM blocks),
         |rj AS (
         |  SELECT event_type_norm, dow, SUM(midrank) AS rj
         |  FROM ranked GROUP BY 1, 2),
         |r2 AS (
         |  SELECT event_type_norm, SUM(rj * rj) AS sum_r2
         |  FROM rj GROUP BY 1),
         |bp AS (
         |  SELECT event_type_norm, CAST(COUNT(*) AS BIGINT) AS n_blocks
         |  FROM complete GROUP BY 1),
         |tie AS (
         |  SELECT event_type_norm,
         |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
         |  FROM (SELECT event_type_norm, wk, y, CAST(COUNT(*) AS BIGINT) AS t
         |        FROM blocks GROUP BY 1, 2, 3)
         |  GROUP BY 1),
         |j AS (
         |  SELECT b.event_type_norm, b.n_blocks,
         |    CAST(7 AS BIGINT) AS k_treatments,
         |    12.0 / CAST(b.n_blocks * 56 AS DOUBLE) * r.sum_r2
         |      - 3.0 * CAST(b.n_blocks AS DOUBLE) * 8.0 AS chi2_raw,
         |    1.0 - CAST(t.tie_sum AS DOUBLE)
         |      / CAST(b.n_blocks * 336 AS DOUBLE) AS tie_correction
         |  FROM bp b JOIN r2 r USING (event_type_norm)
         |  JOIN tie t USING (event_type_norm)),
         |c AS (
         |  SELECT *,
         |    CASE WHEN tie_correction > 0 THEN chi2_raw / tie_correction END
         |      AS chi2_stat,
         |    CAST(6 AS BIGINT) AS dof
         |  FROM j),
         |p AS (
         |  SELECT *,
         |    FLOOR(EXP(-(chi2_stat / 2.0))
         |      * ((0.5 * (chi2_stat / 2.0) + 1.0) * (chi2_stat / 2.0) + 1.0)
         |      * 1e6) / 1e6 AS p_value
         |  FROM c)
         |SELECT event_type_norm, n_blocks, k_treatments, chi2_raw,
         |  tie_correction, chi2_stat, dof, p_value,
         |  p_value <= 0.05 AS seasonal_5pct
         |FROM p""".stripMargin)),

    // PACF (Durbin–Levinson over the ACF panel): the AR-order
    // diagnostic — where the ACF of an AR process decays forever,
    // its PACF cuts off at the true lag order.
    Query("ana_pacf", ((s: SparkSession, d: String) =>
      AnalyticsPack.pacf(servingValid(s, d), maxLag = 7)),
      // PACF: the Durbin–Levinson recursion replayed as chained CTE
      // levels over the pivoted ACF panel — sequential left-to-right
      // term sums and one division per level, mirroring the driver's
      // panel recursion op for op; NULL/zero-denominator cascade.
      Sql(pacfOracleSql(acfOracleSql(servingValidSql), 7))),

    // AR(3) 7-day demand forecast — the autoregressive member of the
    // forecast family: Yule–Walker coefficients via Durbin–Levinson
    // over the ACF panel, then the mean-centered multi-step recursion
    // (reverts toward the mean at the fitted correlation rate).
    Query("ana_ar_forecast", ((s: SparkSession, d: String) =>
      AnalyticsPack.arForecast(servingValid(s, d), p = 3, horizon = 7)),
      // AR(3) forecast: D-L Yule–Walker row + tail pivot + chained
      // per-horizon recursion CTEs, op-for-op the driver fold.
      Sql(arForecastOracleSql(acfOracleSql(servingValidSql), servingValidSql, 3, 7))),

    // Distribution-free conformal intervals over the backtest
    // residuals: forecast ± q̂ with certified ≥80% coverage.
    Query("ana_forecast_conformal", ((s: SparkSession, d: String) =>
      AnalyticsPack.forecastConformal(servingValid(s, d))),
      // Split-conformal intervals: residuals ordered as exact
      // DECIMAL(18,2), the ⌈0.8(n+1)⌉ rank in integer arithmetic,
      // next-day anchors joined on the calendar.
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
         |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |joined AS (
         |  SELECT b.event_type_norm, b.d, b.y, l1.y AS f_lag1, l7.y AS f_lag7
         |  FROM byday b
         |  LEFT JOIN byday l1 ON b.event_type_norm = l1.event_type_norm
         |    AND b.d = l1.d + 1
         |  LEFT JOIN byday l7 ON b.event_type_norm = l7.event_type_norm
         |    AND b.d = l7.d + 7),
         |longf AS (
         |  SELECT event_type_norm, u.method, d, y,
         |    CASE u.method WHEN 'naive_lag1' THEN f_lag1 ELSE f_lag7 END AS f
         |  FROM joined,
         |    (SELECT UNNEST(['naive_lag1', 'seasonal_lag7']) AS method) u),
         |ev AS (SELECT event_type_norm, method, d,
         |    CAST(ABS(y - f) AS DECIMAL(18,2)) AS abs_err_dec
         |  FROM longf WHERE f IS NOT NULL),
         |ranked AS (
         |  SELECT event_type_norm, method, abs_err_dec,
         |    ROW_NUMBER() OVER (PARTITION BY event_type_norm, method
         |      ORDER BY abs_err_dec, d) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type_norm, method) AS n_eval
         |  FROM ev),
         |groups AS (
         |  SELECT event_type_norm, method,
         |    CAST(MAX(n_eval) AS BIGINT) AS n_eval,
         |    CAST(MAX((8 * (n_eval + 1) + 9) // 10) AS BIGINT) AS conf_rank
         |  FROM ranked GROUP BY 1, 2),
         |qsel AS (
         |  SELECT event_type_norm, method, CAST(abs_err_dec AS DOUBLE) AS q_hat
         |  FROM ranked WHERE rn = (8 * (n_eval + 1) + 9) // 10),
         |anchor AS (
         |  SELECT event_type_norm, MAX(d) AS last_d FROM byday GROUP BY 1),
         |fnext AS (
         |  SELECT a.event_type_norm, u.method,
         |    CASE u.method WHEN 'naive_lag1' THEN p.y ELSE s.y END AS f_next
         |  FROM anchor a
         |  LEFT JOIN byday p ON a.event_type_norm = p.event_type_norm
         |    AND p.d = a.last_d
         |  LEFT JOIN byday s ON a.event_type_norm = s.event_type_norm
         |    AND s.d + 6 = a.last_d,
         |    (SELECT UNNEST(['naive_lag1', 'seasonal_lag7']) AS method) u)
         |SELECT g.event_type_norm, g.method, g.n_eval, g.conf_rank,
         |  q.q_hat, f.f_next,
         |  f.f_next - q.q_hat AS lo, f.f_next + q.q_hat AS hi
         |FROM groups g
         |LEFT JOIN qsel q ON g.event_type_norm = q.event_type_norm
         |  AND g.method = q.method
         |LEFT JOIN fnext f ON g.event_type_norm = f.event_type_norm
         |  AND g.method = f.method""".stripMargin)),

    Query("ana_forecast_backtest", ((s: SparkSession, d: String) =>
      AnalyticsPack.forecastBacktest(servingValid(s, d))),
      // Backtest replay: same day panel, calendar self-joins at +1/+7,
      // 2dp decimal error partials, grid-quantized MAPE quotients.
      Sql(s"""WITH byday AS (
         |  SELECT event_type_norm, date_sk,
         |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
         |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
         |  FROM ($servingValidSql) WHERE date_sk IS NOT NULL
         |  GROUP BY 1, 2),
         |joined AS (
         |  SELECT b.event_type_norm, b.y, l1.y AS f_lag1, l7.y AS f_lag7
         |  FROM byday b
         |  LEFT JOIN byday l1 ON b.event_type_norm = l1.event_type_norm
         |    AND b.d = l1.d + 1
         |  LEFT JOIN byday l7 ON b.event_type_norm = l7.event_type_norm
         |    AND b.d = l7.d + 7),
         |longf AS (
         |  SELECT event_type_norm, u.method, y,
         |    CASE u.method WHEN 'naive_lag1' THEN f_lag1 ELSE f_lag7 END AS f
         |  FROM joined,
         |    (SELECT UNNEST(['naive_lag1', 'seasonal_lag7']) AS method) u),
         |ev AS (SELECT * FROM longf WHERE f IS NOT NULL)
         |SELECT event_type_norm, method,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CAST(ABS(y - f) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mae,
         |  CAST(SUM(CAST(y - f AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS bias,
         |  CAST(SUM(CASE WHEN y <> 0 THEN
         |      CAST(FLOOR(ABS(y - f) / y * 1e6) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE)
         |    / SUM(CASE WHEN y <> 0 THEN 1 END) AS mape
         |FROM ev GROUP BY 1, 2""".stripMargin)),

    // Deterministic Poisson-multiplier bootstrap: 32 hash-seeded
    // resamples of the mean event value — the sampling-error panel.
    Query("ana_bootstrap_ci", ((s: SparkSession, d: String) =>
      Sampling.bootstrapMeans(t(s, d, "events"), "event_id", "value", b = 32)),
      // Poisson(1) multiplicities from exact-rational md5 uniforms and
      // exact-double CDF fences; weighted sums in decimal, one division
      // per resample.
      // splitmix64 replay: seed = first 64 digest bits, k-th uniform =
      // mix64(seed + (k+1)*gamma) via exact UHUGEINT mod-2^64 products
      // and xor/shift — verified bit-equal to the JVM kernel.
      Sql("""WITH base AS (
        |  SELECT CAST(concat('0x', substr(md5(concat_ws('|',
        |      CAST(event_id AS VARCHAR), 'boot')), 1, 16)) AS UBIGINT) AS seed,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
        |bs AS (SELECT range AS b FROM range(0, 32)),
        |z0 AS (
        |  SELECT b, x,
        |    CAST((CAST(seed AS UHUGEINT) + CAST(b + 1 AS UHUGEINT)
        |      * CAST(11400714819323198485 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z
        |  FROM base CROSS JOIN bs),
        |z1 AS (SELECT b, x, xor(z, z >> 30) AS z FROM z0),
        |z2 AS (SELECT b, x,
        |    CAST((CAST(z AS UHUGEINT) * CAST(13787848793156543929 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z FROM z1),
        |z3 AS (SELECT b, x, xor(z, z >> 27) AS z FROM z2),
        |z4 AS (SELECT b, x,
        |    CAST((CAST(z AS UHUGEINT) * CAST(10723151780598845931 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z FROM z3),
        |draws AS (
        |  SELECT b, x,
        |    CAST(xor(z, z >> 31) >> 32 AS DOUBLE) / 4294967296.0 AS u
        |  FROM z4),
        |wts AS (
        |  SELECT b, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS w
        |  FROM draws)
        |SELECT b AS resample_id, CAST(SUM(w) AS BIGINT) AS n_eff,
        |  CASE WHEN SUM(w) > 0 THEN CAST(SUM(w * x) AS DOUBLE) / SUM(w) END AS mean_boot
        |FROM wts GROUP BY 1""".stripMargin)),

    // Distribution drift between lake snapshots: ONE shared-bounds
    // histogram pass splits per-bucket counts into old/new (cut =
    // 2024-01-15), proportions + per-bucket shift as RAW IEEE
    // quotients — the distribution-shift monitor a training pipeline
    // runs between ingestion snapshots. Same scale shape as the
    // histogram: broadcast 1-row bounds, <= k bucket keys, broadcast
    // 1-row totals.
    Query("data_drift_value", ((s: SparkSession, d: String) => {
      val k = 20
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        // coalesce: a NULL ts must count as old (matching the oracle's
        // CASE ... ELSE 0), not vanish from both n_old and n_new —
        // otherwise n_old+n_new under-counts the bucket's rows
        .withColumn("is_new",
          coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0)))
      val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      val width = (col("mx") - col("mn")) / k
      val bucket = when(col("mx") === col("mn"), lit(0))
        .otherwise(least(lit(k - 1), floor((col("value") - col("mn")) / width).cast("int")))
      val byBucket = ev.crossJoin(broadcast(bounds))
        .groupBy(bucket.as("bucket"))
        .agg(sum(lit(1) - col("is_new")).as("n_old"), sum(col("is_new")).as("n_new"))
      val tot = byBucket.agg(sum(col("n_old")).as("tot_old"),
        sum(col("n_new")).as("tot_new"))
      byBucket.crossJoin(broadcast(tot))
        .withColumn("p_old", col("n_old") / col("tot_old"))
        .withColumn("p_new", col("n_new") / col("tot_new"))
        .withColumn("p_shift",
          col("n_new") / col("tot_new") - col("n_old") / col("tot_old"))
        .select(col("bucket"), col("n_old"), col("n_new"),
          col("p_old"), col("p_new"), col("p_shift"))
    }),
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k)
        |SELECT bucket, n_old, n_new,
        |  n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |  n_new / CAST(tot_new AS DOUBLE) AS p_new,
        |  n_new / CAST(tot_new AS DOUBLE) - n_old / CAST(tot_old AS DOUBLE) AS p_shift
        |FROM k, tot""".stripMargin)),

    // Scalar drift gates over the same old/new split: log-free χ² +
    // total-variation on the 20-bucket histogram, and the exact
    // two-sample KS statistic via the distributed prefix sum — the
    // one-row verdicts a monitoring pipeline alerts on (the per-bucket
    // panel above is their diagnostic drill-down).
    Query("data_drift_chi2", ((s: SparkSession, d: String) =>
      Drift.chi2Histogram(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new", k = 20)),
      // Same bucketing CTE as data_drift_value, then the §5 grid rule
      // on every full-entropy term before its decimal partial.
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k),
        |p AS (
        |  SELECT n_old, tot_old, tot_new,
        |    n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |    n_new / CAST(tot_new AS DOUBLE)
        |      - n_old / CAST(tot_old AS DOUBLE) AS diff
        |  FROM k, tot)
        |SELECT
        |  CAST(SUM(CASE WHEN n_old > 0
        |    THEN CAST(floor(diff * diff / p_old * 1e6) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE) AS chi2,
        |  CAST(SUM(CAST(floor(abs(diff) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) * 0.5 AS tv_dist,
        |  CAST(SUM(CASE WHEN n_old > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
        |  CAST(SUM(CASE WHEN n_old > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_buckets_skipped,
        |  CAST(MAX(tot_old) AS BIGINT) AS tot_old,
        |  CAST(MAX(tot_new) AS BIGINT) AS tot_new
        |FROM p""".stripMargin)),

    // PSI over the same histogram — the industry-standard monitoring
    // scalar (0.1/0.25 rules of thumb); ln terms ride only the
    // ≤k-bucket panel under the §5 floor-grid, both-sides-empty
    // buckets skipped (counted) rather than epsilon-smoothed.
    Query("data_drift_psi", ((s: SparkSession, d: String) =>
      Drift.psiHistogram(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new", k = 20)),
      // PSI replay: same buckets/totals as chi2; each term's ln and the
      // final (p_new-p_old)*ln product floor-quantize to 1e-6 before the
      // DECIMAL(28,6) partial — grid scale == decimal scale (§5).
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k),
        |p AS (
        |  SELECT n_old, n_new, tot_old, tot_new,
        |    n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |    n_new / CAST(tot_new AS DOUBLE) AS p_new
        |  FROM k, tot)
        |SELECT
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0
        |    THEN CAST(floor((p_new - p_old)
        |      * (floor(ln(p_new / p_old) * 1e6) / 1e6) * 1e6) / 1e6
        |      AS DECIMAL(28,6)) END) AS DOUBLE) AS psi,
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_buckets_skipped,
        |  CAST(MAX(tot_old) AS BIGINT) AS tot_old,
        |  CAST(MAX(tot_new) AS BIGINT) AS tot_new
        |FROM p""".stripMargin)),

    // Jensen–Shannon divergence over the same histogram — the
    // symmetric, always-finite drift scalar (bounded [0, ln 2], no
    // skipped-bucket accounting).
    Query("data_drift_js", ((s: SparkSession, d: String) =>
      Drift.jsHistogram(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new", k = 20)),
      // Drift.jsHistogram mirrored: same bucketing as PSI, mixture
      // midpoint, grid-ln KL terms summed as DECIMAL(28,6).
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k),
        |p AS (
        |  SELECT n_old, n_new, tot_old, tot_new,
        |    n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |    n_new / CAST(tot_new AS DOUBLE) AS p_new
        |  FROM k, tot),
        |pm AS (SELECT *, (p_old + p_new) / 2.0 AS m FROM p)
        |SELECT
        |  (CAST(SUM(CAST(CASE WHEN p_old > 0.0
        |      THEN FLOOR(p_old * (FLOOR(ln(p_old / m) * 1e6) / 1e6) * 1e6) / 1e6
        |      ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
        |   + CAST(SUM(CAST(CASE WHEN p_new > 0.0
        |      THEN FLOOR(p_new * (FLOOR(ln(p_new / m) * 1e6) / 1e6) * 1e6) / 1e6
        |      ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)) / 2.0 AS js_div,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(MAX(tot_old) AS BIGINT) AS tot_old,
        |  CAST(MAX(tot_new) AS BIGINT) AS tot_new
        |FROM pm""".stripMargin)),

    Query("data_drift_ks", ((s: SparkSession, d: String) =>
      Drift.ksStatistic(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new")),
      // Exact two-sample KS: ECDFs over the distinct-value relation,
      // quotients of exact integer counts, argmax with the min-value
      // tie-break (ORDER BY replays the engine's struct-max).
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
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
        |SELECT d_abs AS d_stat, value AS at_value,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pv) AS n_distinct_values,
        |  tot_old AS n_old, tot_new AS n_new
        |FROM d ORDER BY d_abs DESC, value LIMIT 1""".stripMargin)),

    // Cramer-von Mises over the same split: the whole-curve squared
    // EDF gap next to KS's worst single point — catches spread/tail
    // drift KS misses.
    Query("data_drift_cvm", ((s: SparkSession, d: String) =>
      Drift.cvmStatistic(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new")),
      // Drift.cvmStatistic mirrored: same distinct counts + cumulative
      // window, gridded squared gaps times exact decimal weights, the
      // identical n*m/(n+m)^2 panel factor.
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new,
        |         CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM pv),
        |c AS (
        |  SELECT value, n_old_v, n_new_v,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new
        |  FROM pv),
        |dd AS (
        |  SELECT n_old_v, n_new_v,
        |    cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE) AS d,
        |    tot_old, tot_new, nd
        |  FROM c, tot),
        |ag AS (
        |  SELECT SUM(CAST(n_old_v + n_new_v AS DECIMAL(19,0))
        |      * CAST(FLOOR(d * d * 1e6) / 1e6 AS DECIMAL(28,6))) AS s,
        |    MAX(tot_old) AS n_old, MAX(tot_new) AS n_new, MAX(nd) AS nd
        |  FROM dd)
        |SELECT
        |  CAST(s AS DOUBLE) * (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE)
        |    / ((CAST(n_old AS DOUBLE) + CAST(n_new AS DOUBLE))
        |      * (CAST(n_old AS DOUBLE) + CAST(n_new AS DOUBLE)))) AS cvm_stat,
        |  CAST(s AS DOUBLE) AS sum_sq_weighted,
        |  nd AS n_distinct_values, n_old, n_new
        |FROM ag""".stripMargin)),

    // Wasserstein-1 drift over the same old/new snapshot split —
    // "how much mass moved how far" next to KS's worst-point gap;
    // ECDF differences integrated over the value axis via the same
    // distributed prefix sum plus a rank->rank+1 self-join (never a
    // global LEAD window).
    // Vector-tier drift gate: unbiased polynomial-kernel MMD² between
    // the even- and odd-label embedding populations (deterministic
    // 200-per-side sample; the scalar histograms cannot see a vector
    // distribution rotate).
    Query("data_drift_mmd", ((s: SparkSession, d: String) =>
      Drift.mmdPolynomial(
        t(s, d, "embeddings").withColumn("is_new", pmod(col("label"), lit(2)) === 1),
        "vec_id", "embedding", "is_new")),
      // MMD²: the proven list_reduce dot fold, explicit (1+d/l)² multiply
      // (no POW), 1e-6 grid, DECIMAL(28,6) partials, edge divisions.
      Sql({
      val dot = "list_reduce(list_prepend(0.0, list_transform(" +
        "list_zip(a.v, b.v), p -> p[1] * p[2])), (x, y) -> x + y)"
      val kterm = s"CAST(FLOOR((1.0 + ($dot) / len(a.v)) * " +
        s"(1.0 + ($dot) / len(a.v)) * 1e6) / 1e6 AS DECIMAL(28,6))"
      s"""WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |    (label % 2 = 1) AS is_new
        |  FROM embeddings),
        |capped AS (
        |  SELECT id, v, is_new FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY is_new ORDER BY id) AS rn
        |    FROM base)
        |  WHERE rn <= 200),
        |cnt AS (
        |  SELECT CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM capped),
        |xx AS (
        |  SELECT SUM($kterm) AS sxx, COUNT(*) AS nxx
        |  FROM capped a JOIN capped b
        |    ON NOT a.is_new AND NOT b.is_new AND a.id <> b.id),
        |yy AS (
        |  SELECT SUM($kterm) AS syy, COUNT(*) AS nyy
        |  FROM capped a JOIN capped b
        |    ON a.is_new AND b.is_new AND a.id <> b.id),
        |xy AS (
        |  SELECT SUM($kterm) AS sxy, COUNT(*) AS nxy
        |  FROM capped a JOIN capped b ON NOT a.is_new AND b.is_new)
        |SELECT m, n,
        |  CAST(sxx AS DOUBLE) / nxx AS term_xx,
        |  CAST(syy AS DOUBLE) / nyy AS term_yy,
        |  CAST(sxy AS DOUBLE) / nxy AS term_xy,
        |  CAST(sxx AS DOUBLE) / nxx + CAST(syy AS DOUBLE) / nyy
        |    - 2.0 * (CAST(sxy AS DOUBLE) / nxy) AS mmd2
        |FROM cnt, xx, yy, xy""".stripMargin
    })),

    Query("data_drift_wasserstein", ((s: SparkSession, d: String) =>
      Drift.wassersteinW1(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new")),
      // W1 = sum over consecutive distinct values of |dECDF| * gap;
      // terms floor-quantize to the 1e-6 grid before DECIMAL(28,6)
      // partials (grid scale == decimal scale).
      Sql("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct_values
        |  FROM pv),
        |c AS (
        |  SELECT value,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new,
        |    LEAD(value) OVER (ORDER BY value) AS next_value
        |  FROM pv),
        |terms AS (
        |  SELECT CAST(FLOOR(ABS(
        |      cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE))
        |    * (next_value - value) * 1e6) / 1e6 AS DECIMAL(28,6)) AS contrib
        |  FROM c, tot WHERE next_value IS NOT NULL)
        |SELECT
        |  CAST(CASE WHEN tot_old > 0 AND tot_new > 0
        |    THEN COALESCE((SELECT SUM(contrib) FROM terms), CAST(0 AS DECIMAL(28,6)))
        |    END AS DOUBLE) AS w1_distance,
        |  n_distinct_values, tot_old AS n_old, tot_new AS n_new
        |FROM tot""".stripMargin))
  )

  /** The ACF oracle body, shared verbatim by ana_autocorrelation and
    * the PACF replay (which pivots it and runs Durbin-Levinson CTE
    * levels on top).
    */
  private def acfOracleSql(validSql: String): String =
    s"""WITH byday AS (
           |  SELECT event_type_norm, date_sk,
           |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
           |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
           |  FROM ($validSql) WHERE date_sk IS NOT NULL
           |  GROUP BY 1, 2),
           |mp AS (
           |  SELECT event_type_norm,
           |    ROUND(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS ybar
           |  FROM byday GROUP BY 1),
           |dev AS (
           |  SELECT b.event_type_norm, b.d, b.y - m.ybar AS dev
           |  FROM byday b JOIN mp m USING (event_type_norm)),
           |den AS (
           |  SELECT event_type_norm,
           |    CAST(CAST(CAST(SUM(CAST(FLOOR(dev * dev * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 AS den
           |  FROM dev GROUP BY 1),
           |probes AS (
           |  SELECT event_type_norm, u.lag, d + u.lag AS d, dev AS dev_t
           |  FROM dev, (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS lag) u),
           |num AS (
           |  SELECT p.event_type_norm, p.lag,
           |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |    CAST(CAST(CAST(SUM(CAST(FLOOR(p.dev_t * v.dev * 1e6) / 1e6 AS DECIMAL(28,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1e6 AS num
           |  FROM probes p JOIN dev v
           |    ON p.event_type_norm = v.event_type_norm AND p.d = v.d
           |  GROUP BY 1, 2)
           |SELECT n.event_type_norm, n.lag, n.n_pairs,
           |  CASE WHEN de.den <> 0 THEN n.num / de.den END AS acf
           |FROM num n JOIN den de USING (event_type_norm)""".stripMargin

  /** Durbin–Levinson PACF replay: pivot the ACF panel to r1..rK, one
    * CTE pair per level (fkk, then the coefficient updates that
    * reference it), sequential left-to-right term sums — op-for-op
    * the driver recursion in [[graft.operators.AnalyticsPack.pacf]].
    */
  private def pacfOracleSql(acfSql: String, maxLag: Int): String = {
    val rcols = (1 to maxLag)
      .map(k => s"MAX(CASE WHEN lag = $k THEN acf END) AS r$k")
      .mkString(",\n    ")
    val sb = new StringBuilder
    sb.append(s"WITH acf_panel AS (\n$acfSql\n),\n")
    sb.append(s"piv AS (\n  SELECT event_type_norm,\n    $rcols\n  FROM acf_panel GROUP BY 1),\n")
    sb.append("p1 AS (SELECT *, r1 AS f1_1 FROM piv)")
    for (k <- 2 to maxLag) {
      val num = s"(r$k - (${(1 until k).map(j => s"f${k - 1}_$j * r${k - j}").mkString(" + ")}))"
      val den = s"(1.0 - (${(1 until k).map(j => s"f${k - 1}_$j * r$j").mkString(" + ")}))"
      sb.append(s",\npd$k AS (SELECT *, CASE WHEN $den = 0.0 THEN NULL " +
        s"ELSE $num / $den END AS f${k}_$k FROM p${k - 1})")
      val ups = (1 until k)
        .map(j => s"f${k - 1}_$j - f${k}_$k * f${k - 1}_${k - j} AS f${k}_$j")
        .mkString(", ")
      sb.append(s",\np$k AS (SELECT *, $ups FROM pd$k)")
    }
    val unions = (1 to maxLag).map(k =>
      s"SELECT event_type_norm, CAST($k AS INTEGER) AS lag, r$k AS acf, " +
        s"f${k}_$k AS pacf FROM p$maxLag").mkString("\nUNION ALL\n")
    sb.append(s"\n$unions")
    sb.toString
  }

  /** AR(p) forecast replay: the Durbin–Levinson chain (as in
    * [[pacfOracleSql]]) for the Yule–Walker row, the 4dp mean and
    * back-pivoted tail values, then one chained CTE per horizon step
    * with the mean-centered recursion in the driver's exact term
    * order.
    */
  private def arForecastOracleSql(acfSql: String, validSql: String,
                                  p: Int, horizon: Int): String = {
    val rcols = (1 to p)
      .map(k => s"MAX(CASE WHEN lag = $k THEN acf END) AS r$k")
      .mkString(",\n    ")
    val sb = new StringBuilder
    sb.append(s"WITH acf_panel AS (\n$acfSql\n),\n")
    sb.append(s"piv AS (\n  SELECT event_type_norm,\n    $rcols\n  FROM acf_panel GROUP BY 1),\n")
    sb.append("p1 AS (SELECT *, r1 AS f1_1 FROM piv)")
    for (k <- 2 to p) {
      val num = s"(r$k - (${(1 until k).map(j => s"f${k - 1}_$j * r${k - j}").mkString(" + ")}))"
      val den = s"(1.0 - (${(1 until k).map(j => s"f${k - 1}_$j * r$j").mkString(" + ")}))"
      sb.append(s",\npd$k AS (SELECT *, CASE WHEN $den = 0.0 THEN NULL " +
        s"ELSE $num / $den END AS f${k}_$k FROM p${k - 1})")
      val ups = (1 until k)
        .map(j => s"f${k - 1}_$j - f${k}_$k * f${k - 1}_${k - j} AS f${k}_$j")
        .mkString(", ")
      sb.append(s",\np$k AS (SELECT *, $ups FROM pd$k)")
    }
    // the day panel, 4dp mean, and the last p observed calendar days
    // pivoted to xb0 (= the max day) .. xb{p-1}
    sb.append(s""",
      |byday2 AS (
      |  SELECT event_type_norm,
      |    CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS y,
      |    CAST(strptime(CAST(date_sk AS VARCHAR), '%Y%m%d') AS DATE) AS d
      |  FROM ($validSql) WHERE date_sk IS NOT NULL
      |  GROUP BY event_type_norm, date_sk),
      |mp2 AS (
      |  SELECT event_type_norm,
      |    ROUND(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS ybar
      |  FROM byday2 GROUP BY 1),
      |mx AS (SELECT event_type_norm, MAX(d) AS d_max FROM byday2 GROUP BY 1),
      |tl AS (
      |  SELECT b.event_type_norm, date_diff('day', b.d, m.d_max) AS back, b.y
      |  FROM byday2 b JOIN mx m USING (event_type_norm)
      |  WHERE b.d >= m.d_max - ${p - 1}),
      |tp AS (
      |  SELECT event_type_norm,
      |    ${(0 until p).map(i => s"MAX(CASE WHEN back = $i THEN y END) AS xb$i").mkString(",\n    ")}
      |  FROM tl GROUP BY 1),
      |base AS (
      |  SELECT f.*, m.ybar, ${(0 until p).map(i => s"t.xb$i").mkString(", ")}
      |  FROM p$p f
      |  LEFT JOIN mp2 m USING (event_type_norm)
      |  LEFT JOIN tp t USING (event_type_norm))""".stripMargin)
    def xref(i: Int): String = if (i >= 1) s"f$i" else s"xb${-i}"
    var prev = "base"
    for (h <- 1 to horizon) {
      val terms = (1 to p)
        .map(j => s"f${p}_$j * (${xref(h - j)} - ybar)").mkString(" + ")
      sb.append(s",\nfc$h AS (SELECT *, ybar + ($terms) AS f$h FROM $prev)")
      prev = s"fc$h"
    }
    val unions = (1 to horizon).map(h =>
      s"SELECT event_type_norm, CAST($h AS INTEGER) AS h, f$h AS forecast FROM fc$horizon")
      .mkString("\nUNION ALL\n")
    sb.append(s"\n$unions")
    sb.toString
  }

  private def avgD(sumExpr: String, cntExpr: String, scale: Int): String =
    s"ROUND(CAST(SUM($sumExpr) AS DOUBLE) / NULLIF($cntExpr, 0), $scale)"
}
