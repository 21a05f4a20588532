package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Spark twins of the reference's documented gold analytics pack
  * (`docs/queries/01-05`) — the warehouse's own showcase of what it
  * answers, re-expressed over the driver testdata star.
  *
  * Determinism rules shared by every query here (so the DuckDB oracle
  * can hash-match):
  *  - averages are never `avg(double)` (parallel reduction order would
  *    change the value); they are `CAST(SUM(DECIMAL) AS DOUBLE) / n`,
  *    one exact sum and one IEEE division, identical in any engine;
  *  - window functions (NTILE / LAG / pct-of-total) run over *already
  *    aggregated* frames — dozens of rows, not the fact table — so the
  *    single-partition exchange they plan is the same benign class as
  *    a scalar aggregate (never a window over raw fact rows);
  *  - every ranking has an explicit total order (tie-break keys).
  */
object AnalyticsPack {

  private val money: Column => Column = c =>
    graft.expressions.Kernels.toDecimal(c.cast("double"), 18, 2)

  /** Engine-portable DECIMAL(·,6) → double: exact micro-unit long,
    * ONE IEEE long→double rounding, exact /1e6. Spark's decimal cast
    * rounds the exact rational once, but DuckDB's scales an
    * integer-cast value (two roundings) — once a sum's micro-units
    * pass 2^53 the two disagree by an ulp (§5 rule, caught by the
    * 10×-replica oracle gate on acf/cuped/seasonal-strength sums).
    * Long range bounds the guarded magnitude at ~9.2e12 units, far
    * past any panel this feeds; DuckDB mirror:
    * `CAST(CAST(x * 1000000 AS BIGINT) AS DOUBLE) / 1e6`.
    */
  private[graft] def dec6ToDouble(c: Column): Column = decToDouble(c, 6)

  /** General-scale sibling of [[dec6ToDouble]] (same §5 rationale);
    * DuckDB mirror: `CAST(CAST(x * 10^s AS BIGINT) AS DOUBLE) / 1e<s>`.
    */
  private[graft] def decToDouble(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale).toLong
    // narrow to (28,scale) first: a SUM's (38,s) type would push the
    // ×10^s multiply past precision 38 (DuckDB refuses; Spark cuts
    // scale) — 28 integer-ish digits is far past every guarded panel
    (c.cast(org.apache.spark.sql.types.DecimalType(28, scale)) * lit(f))
      .cast("long").cast("double") / lit(f.toDouble)
  }

  /** Exact distributed average: decimal sum cast to double, divided by
    * a count, NULL when the count is zero (both engines agree on NULL,
    * not on inf).
    *
    * Known cross-engine edge on the final round: Spark rounds doubles
    * through the shortest-decimal string (HALF_UP), DuckDB rounds the
    * binary value — a quotient whose shortest repr lands exactly on a
    * .5 boundary (e.g. 1.005) can round apart. Quotients of exact
    * decimal sums land there with vanishing probability and the gate
    * is deterministic per dataset (verified green at every SF); if a
    * future lake hits one, align with a binary-faithful round kernel.
    */
  /** Two-sided normal p from a z column — the A&S 7.1.26 Horner erfc
    * with the §5 1e-6 floor grid (the house exp convention); NULL z
    * propagates to NULL p.
    */
  private def normTwoSidedP(z: Column): Column = {
    val x = abs(z) / lit(1.4142135623730951)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    floor(poly * exp(-(x * x)) * lit(1e6)) / lit(1e6)
  }

  /** EVEN-dof chi-square survival `P(chi2_{2m} > Q)` as the exact
    * finite Poisson sum `e^{-q} Σ_{j<m} q^j/j!` with `q = Q/2` — a
    * fixed-order Horner over 1/j! literals + one gridded exp, so a
    * SQL engine replays it with no gamma function. NULL Q -> NULL p.
    */
  private def chi2EvenTailP(qStat: Column, m: Int): Column = {
    val qq = qStat / lit(2.0)
    // factorial accumulated in Double: Int j! overflows at j >= 13,
    // which a maxLag >= 26 (dof 2m >= 26) would silently hit
    val poly = (0 until m).map(j => 1.0 / (1 to j).foldLeft(1.0)(_ * _))
      .reverse.foldLeft(lit(0.0))((acc, c) => acc * qq + lit(c))
    floor(exp(-qq) * poly * lit(1e6)) / lit(1e6)
  }

  private def exactAvg(c: Column, n: Column, scale: Int): Column =
    round(sum(money(c)).cast("double") / when(n === 0, lit(null)).otherwise(n), scale)

  /** NTILE(4) coverage quartiles per nation — the reference's
    * comuna-coverage classification (docs/queries/03_infraestructura
    * .sql:72-80): aggregate a ratio per group, rank groups into
    * quartiles, attach a readable category. The NTILE window runs over
    * the 25-row aggregate, ordered with a name tie-break so the
    * quartile assignment is total.
    */
  def coverageQuartile(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    // nation is a bounded dim -> broadcast; customer SCALES with the
    // lake, so its join is left to Catalyst/AQE (auto-broadcast while
    // small, key-partitioned shuffle at 100 TB — never a forced
    // driver-side collect of a linearly-growing table).
    val base = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        countDistinct(col("c_custkey")).as("num_clientes"),
        round(sum(money(col("o_totalprice"))), 0).cast("double").as("ventas_total"),
        exactAvg(col("o_totalprice"), count(lit(1)), 1).as("ventas_por_orden"))
    val w = Window.orderBy(col("ventas_por_orden"), col("n_name"))
    base
      .withColumn("cuartil_cobertura", ntile(4).over(w))
      .withColumn("categoria",
        when(col("cuartil_cobertura") === 1, "Sub-servida")
          .when(col("cuartil_cobertura") === 2, "Baja cobertura")
          .when(col("cuartil_cobertura") === 3, "Cobertura media")
          .otherwise("Bien servida"))
  }

  /** Exact p50/p90 wait-time percentiles per mode (docs/queries/
    * 04_calidad_servicio.sql:113-130): per-group exact
    * PERCENTILE_CONT plus conditional day-type averages, with the
    * reference's outlier band filter. The quantiles run through
    * [[Profiling.exactQuantilesBy]]'s distributed rank brackets —
    * bit-identical to `percentile`/`quantile_cont` interpolation
    * (required for hash parity with DuckDB), without the builtin's
    * per-group value→count map merging in a single reducer (a mode's
    * whole semi-continuous wait distribution at 100 TB).
    */
  def waitPercentiles(validEvents: DataFrame): DataFrame = {
    val laboral = when(col("tipo_dia") === "LABORAL", col("value"))
    val domingo = when(col("tipo_dia") === "DOMINGO", col("value"))
    val rows = validEvents
      .filter(col("value").isNotNull && col("value").between(0, 450))
      .select(col("event_type_norm").as("mode_code"), col("value"),
        col("tipo_dia"))
      .ckptPartitioned()
    val counts = rows.groupBy(col("mode_code"))
      .agg(
        count(lit(1)).as("validaciones"),
        exactAvg(col("value"), count(lit(1)), 2).as("espera_promedio_min"),
        exactAvg(laboral, count(laboral), 2).as("espera_laboral"),
        exactAvg(domingo, count(domingo), 2).as("espera_domingo"))
    val q = Profiling.exactQuantilesBy(rows, Seq("mode_code"), "value",
        Seq(0.5, 0.9))
      .groupBy(col("mode_code"))
      .agg(round(max(when(col("quantile") === 0.5, col("value"))), 2)
          .as("espera_mediana_min"),
        round(max(when(col("quantile") === 0.9, col("value"))), 2)
          .as("espera_p90_min"))
    counts.join(broadcast(q), Seq("mode_code"))
      .select(col("mode_code"), col("validaciones"), col("espera_promedio_min"),
        col("espera_mediana_min"), col("espera_p90_min"),
        col("espera_laboral"), col("espera_domingo"))
  }

  /** COUNT(DISTINCT)+HAVING user-frequency segmentation (docs/queries/
    * 05_usuarios.sql:28-62): trips per user per workday, average per
    * user with a minimum-active-days HAVING gate, then segment and a
    * pct-of-total computed as a two-level aggregate (segment agg ×
    * broadcast scalar total — never a window over the user set).
    */
  def userSegments(validEvents: DataFrame): DataFrame = {
    val daily = validEvents
      .filter(col("tipo_dia") === "LABORAL" && col("user_id").isNotNull)
      .groupBy(col("user_id"), col("date_sk"))
      .agg(count(lit(1)).as("viajes_en_dia"))
    val perUser = daily
      .groupBy(col("user_id"))
      .agg(
        round(sum(col("viajes_en_dia")).cast("double") / count(lit(1)), 2)
          .as("viajes_x_dia_laboral"),
        count(lit(1)).as("dias_con_actividad"))
      .filter(col("dias_con_actividad") >= 3)
    val seg = perUser
      .withColumn("segmento_uso",
        when(col("viajes_x_dia_laboral") >= 6, ">=6 (extremo cautivo)")
          .when(col("viajes_x_dia_laboral") >= 4, "4-5 (cautivo)")
          .when(col("viajes_x_dia_laboral") >= 2, "2-3 (regular)")
          .otherwise("1 (esporadico)"))
      .groupBy(col("segmento_uso"))
      .agg(
        count(lit(1)).as("tarjetas"),
        round(sum(money(col("viajes_x_dia_laboral"))).cast("double") / count(lit(1)), 2)
          .as("media_viajes_dia"),
        round(sum(col("dias_con_actividad")).cast("double") / count(lit(1)), 1)
          .as("dias_activos_promedio"))
    val total = seg.agg(sum(col("tarjetas")).as("tarjetas_total"))
    seg.crossJoin(broadcast(total))
      .withColumn("pct_tarjetas",
        round(lit(100.0) * col("tarjetas") / col("tarjetas_total"), 2))
      .drop("tarjetas_total")
  }

  /** Pct-of-total segmentation by trip complexity (docs/queries/
    * 04_calidad_servicio.sql:23-39): grouped counts with a share of
    * the grand total. The reference's `100.0*COUNT(*)/SUM(COUNT(*))
    * OVER ()` is kept a two-level aggregate (group agg × broadcast
    * 1-row total) so no single-partition window ever sees fact rows.
    */
  def pctOfTotal(lineitem: DataFrame): DataFrame = {
    val seg = lineitem
      .groupBy(col("l_linenumber").as("num_etapas"))
      .agg(
        count(lit(1)).as("viajes"),
        round(sum(money(col("l_quantity"))), 0).cast("double").as("demanda_expandida"),
        exactAvg(col("l_extendedprice"), count(lit(1)), 1).as("precio_promedio"),
        exactAvg(col("l_discount"), count(lit(1)), 3).as("descuento_promedio"))
    val total = seg.agg(sum(col("viajes")).as("viajes_total"))
    seg.crossJoin(broadcast(total))
      .withColumn("pct_total", round(lit(100.0) * col("viajes") / col("viajes_total"), 2))
      .drop("viajes_total")
  }

  /** Day-type demand pivot per half-hour slot (docs/queries/
    * 01_demanda_horaria.sql:21-35): conditional pivot columns per
    * tipo_dia plus the laboral-vs-domingo pressure ratio. One scan,
    * one partial-aggregable shuffle on the 48 slot keys.
    */
  def demandPivot30m(validEvents: DataFrame): DataFrame = {
    def pivot(day: String, name: String): Column =
      coalesce(round(sum(money(when(col("tipo_dia") === day, col("value")))), 2), lit(0))
        .cast("double").as(name)
    validEvents
      .groupBy(col("time_30m_sk"))
      .agg(
        pivot("LABORAL", "subidas_laboral"),
        pivot("SABADO", "subidas_sabado"),
        pivot("DOMINGO", "subidas_domingo"))
      .withColumn("pct_laboral_vs_domingo",
        round(lit(100.0) * col("subidas_laboral") /
          when(col("subidas_domingo") === 0, lit(null)).otherwise(col("subidas_domingo"))
          - 100, 1))
  }

  /** Daily demand series with LAG day-over-day delta (docs/queries/
    * 01_demanda_horaria.sql:76-93): per-day distinct users, sampled
    * trips, expanded demand, and the delta vs the previous day. The
    * LAG window orders the ~31-row daily aggregate — never raw facts.
    */
  def dailyDelta(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents
      .filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"), col("tipo_dia"))
      .agg(
        countDistinct(col("user_id")).as("tarjetas_unicas"),
        count(lit(1)).as("viajes_muestra"),
        coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
          .as("demanda_expandida"))
    byDay.withColumn("delta_vs_dia_anterior",
      round(col("demanda_expandida") -
        lag(col("demanda_expandida"), 1).over(Window.orderBy(col("date_sk"))), 2))
  }

  /** Per-group OLS demand trend: slope + intercept of daily demand
    * against the day index (0,1,2,… in date order per group) — "is
    * this event type growing and how fast", the regression companion
    * of [[changepointCusum]]'s level-shift detector.
    *
    * The A19 moment discipline: Σx, Σy, Σxy, Σx² as exact DECIMAL
    * partials (x is a small int index, y a 2dp money double — both
    * low-entropy, direct-cast safe), the slope/intercept formulas in
    * ONE fixed double op order so any engine replays them; NULL
    * slope for single-day groups (zero x-variance), never a divide
    * error. Day indexing is a per-group window over the ≤#days panel
    * (the fact collapses first).
    */
  def trendSlope(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
    val indexed = byDay.withColumn("x",
      (row_number().over(Window.partitionBy(col("event_type_norm"))
        .orderBy(col("date_sk"))) - 1).cast("long"))
    val moms = indexed.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(graft.expressions.Kernels.toDecimal(col("y"), 28, 6)).as("sy"),
        sum(graft.expressions.Kernels.toDecimal(
          col("x").cast("double") * col("y"), 28, 6)).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val den = col("n_days") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (col("n_days") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
      when(den === 0, lit(null)).otherwise(den)
    moms.select(col("event_type_norm"), col("n_days"),
      slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n_days")).as("intercept"))
  }

  /** CUSUM change-point profile over the daily demand series — the
    * classic mean-shift detector (Page 1954): cumulative sum of
    * deviations from the series mean; a sustained level shift makes
    * |CUSUM| grow to a peak AT the shift day, where noise merely
    * wanders. Emits the full curve plus the argmax flag (the single
    * most likely change day; ties all flagged).
    *
    * Engine parity: the running sum is an EXACT DECIMAL(28,6) window
    * accumulation (a raw double running sum would depend on the
    * engine's window summation algorithm), mean via decimal sum +
    * one division, everything else raw IEEE. The window runs over the
    * ≤#days panel, not the fact — the same day-panel window shape as
    * [[dailyDelta]]; the fact collapses in one partial-agg shuffle
    * first.
    */
  def changepointCusum(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("daily_value"))
    val stats = byDay.agg(
      (sum(graft.expressions.Kernels.toDecimal(col("daily_value"), 28, 6))
        .cast("double") / count(lit(1))).as("mean_value"))
    val dev = byDay.crossJoin(broadcast(stats))
      .withColumn("deviation", col("daily_value") - col("mean_value"))
    // deviation = value − mean is a full-entropy double (mean is a
    // quotient): floor-quantize to the 1e-6 grid before the decimal
    // cast so the cast is tie-free on both engines (§5 rule). The
    // emitted `deviation` column stays the raw IEEE difference —
    // identical bits on both engines since its inputs are identical.
    val cum = dev.withColumn("cusum",
      sum(graft.expressions.Kernels.toDecimal(
        floor(col("deviation") * lit(1e6)) / lit(1e6), 28, 6))
        .over(Window.orderBy(col("date_sk"))).cast("double"))
    val peak = cum.agg(max(abs(col("cusum"))).as("__max_abs"))
    cum.crossJoin(broadcast(peak))
      .select(col("date_sk"), col("daily_value"), col("deviation"), col("cusum"),
        (abs(col("cusum")) === col("__max_abs")).as("is_changepoint"))
  }

  /** PERIODOGRAM over the daily demand series — MEASURE the dominant
    * cycle length instead of assuming it (every seasonal op here
    * hard-codes the weekly period; this is the evidence): per
    * candidate period P, the squared Fourier magnitude
    * `(Σ y_d·cos(2πd/P))² + (Σ y_d·sin(2πd/P))²` on the MEAN-CENTERED
    * series (without centering the DC offset leaks into every bin),
    * normalized by n, the argmax flagged. The Goertzel-at-candidates
    * form: |periods| panel passes, never an FFT's power-of-two
    * padding.
    *
    * Scale shape: the fact collapses once to the day panel (indexed
    * by exact date arithmetic, no window); each period's two sums are
    * one panel aggregate over gridded trig terms (§5: cos/sin are
    * transcendental → q6 per cell, the product re-gridded before its
    * DECIMAL(28,6) partial).
    */
  def periodogram(validEvents: DataFrame, periods: Seq[Int] = (2 to 14)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(periods.nonEmpty && periods.forall(_ >= 2), s"bad periods: $periods")
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
    val base = byDay.crossJoin(broadcast(byDay.agg(
        min(col("date_sk")).as("__d0"),
        count(lit(1)).as("n_days"),
        (sum(graft.expressions.Kernels.toDecimal(col("y"), 28, 6))
          .cast("double") / count(lit(1))).as("__mean"))))
      .withColumn("__idx", datediff(
        to_date(col("date_sk").cast("string"), "yyyyMMdd"),
        to_date(col("__d0").cast("string"), "yyyyMMdd")).cast("double"))
      .withColumn("__yc", col("y") - col("__mean"))
      .ckptPartitioned()
    val twoPi = 2.0 * math.Pi
    periods.map { p =>
      val ang = lit(twoPi) * col("__idx") / lit(p.toDouble)
      val ct = q6(q6(cos(ang)) * col("__yc")).cast(d6)
      val st = q6(q6(sin(ang)) * col("__yc")).cast(d6)
      base.agg(max(col("n_days")).as("n_days"),
          coalesce(sum(ct), lit(0).cast(d6)).as("__c"),
          coalesce(sum(st), lit(0).cast(d6)).as("__s"))
        .select(lit(p).as("period_days"), col("n_days"),
          col("__c").cast("double").as("cos_sum"),
          col("__s").cast("double").as("sin_sum"),
          ((col("__c").cast("double") * col("__c").cast("double")
            + col("__s").cast("double") * col("__s").cast("double"))
            / col("n_days").cast("double")).as("power"))
    }.reduce(_ unionAll _)
      .ckptPartitioned() match { case pan =>
        val best = pan.agg(max(col("power")).as("__best"))
        pan.crossJoin(broadcast(best))
          .select(col("period_days"), col("n_days"), col("cos_sum"),
            col("sin_sum"), col("power"),
            (col("power") === col("__best")).as("is_dominant"))
      }
  }

  /** Hurst exponent via rescaled-range (R/S) analysis — the
    * long-memory diagnostic next to [[autocorrelation]]'s per-lag
    * view and burstiness' one-scalar: H ≈ 0.5 is a random walk,
    * H > 0.5 persistent trends (shocks compound — capacity planning
    * must carry them), H < 0.5 mean reversion. For each window size
    * w the daily series splits into complete w-day blocks; each
    * block's R/S is the range of its cumulative mean-deviations over
    * its population std; H is the log-log OLS slope of the mean R/S
    * against w.
    *
    * Scale shape: the fact collapses once to the indexed day panel;
    * per-block prefix sums ride a BLOCK-partitioned window (decimal
    * partials — never a global window); per-w means and the OLS run
    * on ≤|windows| panel rows with the zipfFit grid discipline.
    */
  def hurstExponent(validEvents: DataFrame,
                    windows: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(windows.nonEmpty && windows.forall(_ >= 4), s"bad windows: $windows")
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    def q8d(c: Column) = (floor(c * lit(1e8)) / lit(1e8)).cast(DecimalType(28, 8))
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
    val indexed = byDay.crossJoin(broadcast(
        byDay.agg(min(col("date_sk")).as("__d0"))))
      .withColumn("__idx", datediff(
        to_date(col("date_sk").cast("string"), "yyyyMMdd"),
        to_date(col("__d0").cast("string"), "yyyyMMdd")).cast("long"))
      .ckptPartitioned()
    val perW = windows.map { wSize =>
      val blocks = indexed
        .withColumn("__b", (col("__idx") / wSize).cast("long"))
      // complete blocks only: a ragged tail block would bias R/S low
      val sizes = blocks.groupBy(col("__b")).agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") === wSize)
      val full = blocks.join(broadcast(sizes.select(col("__b"))), Seq("__b"))
      val stats = full.groupBy(col("__b"))
        .agg((sum(graft.expressions.Kernels.toDecimal(col("y"), 28, 6))
            .cast("double") / lit(wSize.toDouble)).as("__m"),
          ((sum(q6(col("y") * col("y")).cast(d6)).cast("double")
            - sum(graft.expressions.Kernels.toDecimal(col("y"), 28, 6))
              .cast("double")
              * sum(graft.expressions.Kernels.toDecimal(col("y"), 28, 6))
                .cast("double") / lit(wSize.toDouble))
            / lit(wSize.toDouble)).as("__var"))
      val win = Window.partitionBy(col("__b")).orderBy(col("__idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = full
        .withColumn("__py", sum(graft.expressions.Kernels.toDecimal(
          col("y"), 28, 6)).over(win).cast("double"))
        .withColumn("__pi", count(lit(1)).over(win).cast("double"))
        .join(stats, Seq("__b"))
        .withColumn("__cum", col("__py") - col("__pi") * col("__m"))
      val rs = cum.groupBy(col("__b"), col("__var"))
        .agg((max(col("__cum")) - min(col("__cum"))).as("__r"))
        .filter(col("__var") > 0.0)
        .withColumn("__rs", col("__r") / sqrt(col("__var")))
      rs.agg(count(lit(1)).as("n_blocks"),
          coalesce(sum(q6(col("__rs")).cast(d6)), lit(0).cast(d6)).as("__srs"))
        .select(lit(wSize).as("window_days"), col("n_blocks"),
          when(col("n_blocks") > 0,
            col("__srs").cast("double") / col("n_blocks").cast("double"))
            .as("mean_rs"))
    }.reduce(_ unionAll _).ckptPartitioned()
    val pts = perW.filter(col("n_blocks") > 0 && col("mean_rs") > 0.0)
      .select(q6(log(col("window_days").cast("double"))).as("lx"),
        q6(log(col("mean_rs"))).as("ly"))
    val moms = pts.agg(count(lit(1)).as("__k"),
      sum(q8d(col("lx"))).as("sx"), sum(q8d(col("ly"))).as("sy"),
      sum(q8d(col("lx") * col("ly"))).as("sxy"),
      sum(q8d(col("lx") * col("lx"))).as("sxx"))
    val den = col("__k") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val h = moms.select(
      ((col("__k") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        when(den === 0, lit(null)).otherwise(den)).as("hurst_h"))
    perW.crossJoin(broadcast(h))
  }

  /** Trimmed mean per group — the robust center between the plain
    * mean (outlier-dragged) and the median (throws away 98% of the
    * data): drop everything outside the [pLo, pHi] rank bracket and
    * average what remains. The standard robust KPI when a metering
    * glitch can inject 1e9-valued rows.
    *
    * The brackets come from [[Profiling.exactQuantilesBy]] (two-phase
    * distributed rank machinery — no single-reducer sort) and join
    * back by group; the kept-mass mean re-grids each value to 1e-6
    * before its DECIMAL(28,6) partial (§5, reduction-order-free).
    * Boundary rows (v equal to either bracket) are KEPT — the bracket
    * values are bit-identical in both engines, so the tie verdict is
    * too. Output per group: total/kept counts, both brackets, raw and
    * trimmed means.
    */
  def trimmedMean(events: DataFrame, groupExpr: Column, valueCol: String,
                  pLo: Double, pHi: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad trim bracket [$pLo, $pHi]")
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val base = events
      .select(groupExpr.as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint(false)
    val qs = Profiling.exactQuantilesBy(base, Seq("__g"), "__v", Seq(pLo, pHi))
    val brackets = qs.groupBy(col("__g"))
      .agg(max(when(col("quantile") === pLo, col("value"))).as("q_lo"),
        max(when(col("quantile") === pHi, col("value"))).as("q_hi"))
      .ckptPartitioned()
    val raw = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_total"),
        sum(q6(col("__v")).cast(d6)).as("__rs"))
    // brackets/kept are ≤|groups| panels off stats-less checkpoints —
    // broadcast explicitly or the static plan degrades to SMJ
    raw.join(broadcast(brackets), Seq("__g"))
      .join(broadcast(base.join(broadcast(brackets), Seq("__g"))
          .filter(col("__v") >= col("q_lo") && col("__v") <= col("q_hi"))
          .groupBy(col("__g"))
          .agg(count(lit(1)).as("__nk"),
            sum(q6(col("__v")).cast(d6)).as("__ts"))),
        Seq("__g"), "left")
      // LEFT join: a tiny group whose interpolated bracket straddles
      // every row (e.g. n=2) still surfaces, with n_kept=0 and a NULL
      // trimmed mean, instead of silently vanishing
      .select(col("__g").as("group_key"), col("n_total"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        col("q_lo"), col("q_hi"),
        (col("__rs").cast("double") / col("n_total").cast("double")).as("raw_mean"),
        (col("__ts").cast("double") / col("__nk").cast("double")).as("trimmed_mean"))
  }

  /** Binary-segmentation changepoint — the LOCATION estimator next to
    * [[changepointCusum]]'s detector: for every candidate boundary
    * (split AFTER day d) the exact SSE reduction a two-mean model
    * buys over the one-mean model,
    * `gain = S_l²/n_l + S_r²/n_r − S²/n` (the classic prefix-sum
    * identity — no per-split rescan), with the argmax flagged. One
    * recursion level is the whole estimator here; deeper segmentation
    * is re-running it on each side.
    *
    * Scale shape: the fact collapses once to the day panel; prefix
    * sums ride a calendar-bounded day-ordered window (the cusum
    * idiom); totals broadcast from a 1-row panel. Engine parity: the
    * panel sums run as DECIMAL(28,6) partials, every downstream gain
    * is a mirrored double expression over those exact sums — ties in
    * `is_split` resolve identically because the doubles are
    * bit-identical.
    */
  def changepointBinseg(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("daily_value"))
    val w = Window.orderBy(col("date_sk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = byDay
      .withColumn("__sl", sum(graft.expressions.Kernels.toDecimal(
        col("daily_value"), 28, 6)).over(w).cast("double"))
      .withColumn("n_left", count(lit(1)).over(w))
    val tot = byDay.agg(
      sum(graft.expressions.Kernels.toDecimal(col("daily_value"), 28, 6))
        .cast("double").as("__s"),
      count(lit(1)).as("__n"))
    val gains = pre.crossJoin(broadcast(tot))
      .withColumn("n_right", col("__n") - col("n_left"))
      .filter(col("n_right") > 0)
      .withColumn("__sr", col("__s") - col("__sl"))
      .withColumn("mean_left", col("__sl") / col("n_left").cast("double"))
      .withColumn("mean_right", col("__sr") / col("n_right").cast("double"))
      .withColumn("sse_reduction",
        col("__sl") * col("__sl") / col("n_left").cast("double")
          + col("__sr") * col("__sr") / col("n_right").cast("double")
          - col("__s") * col("__s") / col("__n").cast("double"))
      .ckptPartitioned()
    val best = gains.agg(max(col("sse_reduction")).as("__best"))
    gains.crossJoin(broadcast(best))
      .select(col("date_sk").as("split_after_date_sk"),
        col("n_left"), col("n_right"), col("mean_left"), col("mean_right"),
        col("sse_reduction"),
        (col("sse_reduction") === col("__best")).as("is_split"))
  }

  /** Pct-of-peak pressure curve (docs/queries/01_demanda_horaria
    * .sql:47-66): aggregate in-transit demand per slot, then each
    * slot as a share of the PEAK slot — the `MAX(...) OVER ()` kept a
    * two-level aggregate (slot agg × broadcast 1-row max), like every
    * grand-total window in this pack.
    */
  def pctOfPeak(validEvents: DataFrame): DataFrame = {
    val slots = validEvents
      .filter(col("tipo_dia") === "LABORAL")
      .groupBy(col("time_30m_sk"))
      .agg(round(sum(money(col("value"))), 0).cast("double").as("en_transito"))
    val peak = slots.agg(max(col("en_transito")).as("pico"))
    slots.crossJoin(broadcast(peak))
      .withColumn("pct_del_pico",
        round(lit(100.0) * col("en_transito") /
          when(col("pico") === 0, lit(null)).otherwise(col("pico")), 1))
      .drop("pico")
  }

  /** CASE-bucketed ratio classification (docs/queries/02_analisis_od
    * .sql:49-73, the deviation-factor buckets): group rows by a
    * computed ratio bucket — the same CASE expression is the grouping
    * key and the readable label — with a noise-floor filter and
    * per-bucket exact averages, ordered by the bucket's mean ratio.
    */
  def deviationBuckets(lineitem: DataFrame): DataFrame = {
    val ratio = col("l_extendedprice") /
      when(col("l_quantity") === 0, lit(null)).otherwise(col("l_quantity"))
    val bucket =
      when(ratio < 1000, "Muy directo (<1000)")
        .when(ratio < 2000, "Directo (1000-2000)")
        .when(ratio < 3400, "Moderado (2000-3400)")
        .otherwise("Alto desvio (>=3400)")
    lineitem
      .filter(col("l_quantity") >= 5 && col("l_extendedprice").isNotNull)
      .groupBy(bucket.as("categoria_desvio"))
      .agg(
        count(lit(1)).as("viajes"),
        exactAvg(col("l_extendedprice"), count(lit(1)), 1).as("precio_promedio"),
        exactAvg(col("l_quantity"), count(lit(1)), 2).as("qty_promedio"),
        // avg(double) is reduction-order-dependent; sum the ratio as a
        // 6dp decimal (exact, order-free) and divide once
        round(sum(graft.expressions.Kernels.toDecimal(ratio.cast("double"), 18, 6)).cast("double") / count(lit(1)), 3)
          .as("factor_desvio_promedio"))
  }

  /** Intermodality combos (docs/queries/05_usuarios.sql:96-150): per
    * user, MAX(CASE) presence flags per mode; classify the flag
    * combination with an ordered CASE; per-combo counts, pct-of-total
    * (two-level), exact average and median of per-user event counts.
    */
  def userModeCombos(validEvents: DataFrame): DataFrame = {
    def flag(mode: String): Column =
      max(when(col("event_type_norm") === mode, 1).otherwise(0))
    val perUser = validEvents
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(flag("CLICK").as("tiene_click"), flag("VIEW").as("tiene_view"),
        flag("PURCHASE").as("tiene_purchase"), count(lit(1)).as("n_events"))
    val combo =
      when(col("tiene_purchase") === 1, "Comprador")
        .when(col("tiene_click") === 1 && col("tiene_view") === 1, "Click + View")
        .when(col("tiene_click") === 1, "Solo Click")
        .when(col("tiene_view") === 1, "Solo View")
        .otherwise("Otra combinacion")
    val seg = perUser
      .groupBy(combo.as("tipo_uso"))
      .agg(
        count(lit(1)).as("usuarios"),
        round(sum(col("n_events")).cast("double") / count(lit(1)), 2)
          .as("eventos_promedio"),
        round(percentile(col("n_events"), lit(0.5)), 1).as("eventos_mediana"))
    val total = seg.agg(sum(col("usuarios")).as("usuarios_total"))
    seg.crossJoin(broadcast(total))
      .withColumn("pct_usuarios",
        round(lit(100.0) * col("usuarios") / col("usuarios_total"), 2))
      .drop("usuarios_total")
  }

  /** Data-coverage compliance audit (docs/queries/04_calidad_servicio
    * .sql:136-161): per group, how many rows carry the required field,
    * the coverage share, a conditional average over covered rows only,
    * and the regulator-style compliance flag on the share.
    */
  def coverageAudit(validEvents: DataFrame): DataFrame = {
    val covered = when(col("prop_k").isNotNull, col("value"))
    validEvents
      .groupBy(col("event_type_norm").as("mode_code"), col("tipo_dia"))
      .agg(
        count(lit(1)).as("total"),
        count(col("prop_k")).as("con_dato"),
        (count(lit(1)) - count(col("prop_k"))).as("sin_dato"),
        round(lit(100.0) * count(col("prop_k")) / count(lit(1)), 2).as("pct_con_dato"),
        exactAvg(covered, count(covered), 1).as("valor_promedio_con_dato"))
      .withColumn("estado",
        when(col("pct_con_dato") < 90.0, "INCUMPLE").otherwise("OK"))
  }

  /** Revenue-coverage gap over the comparable universe — the
    * reference's headline BI KPI family (reference:
    * docs/powerbi/DAX_ENTERPRISE_MEDIDAS.md §5–8): estimated
    * passengers from day-type-weighted scaled boardings vs observed
    * validations, restricted to comparable mode×day-type cells.
    *
    * Construction (per mode_code × tipo_dia cell over the
    * [winFrom, winTo] window):
    *  - `validaciones` — the observed side: exact-decimal value sum
    *    over the full window ("Validaciones (TipoDia) Comparable");
    *  - `subidas_diarias_base` — the boarding PROFILE: average daily
    *    value sum over the [baseFrom, baseTo] profile sub-window (the
    *    DAX "Fecha Compatible" base, which scales a coarser-grain
    *    survey profile rather than re-reading the target period);
    *  - `pasajeros_estimados` — profile × the tipo_dia's calendar day
    *    count in the full window ("Subidas Escaladas TipoDia
    *    Comparable (Ponderada TD)"), comparable modes only, positive
    *    only (§6's IF(s > 0, s, BLANK()));
    *  - `cobertura` / `brecha_signed` / `brecha_no_validada` /
    *    `sobrevalidacion` — DIVIDE and the MAX(±gap, 0) split of §6;
    *  - `estado_comparabilidad` — §7's SWITCH: non-comparable mode,
    *    missing base, coverage outside [floor, ceil] (base over/under-
    *    dimensioned), else COMPARABLE; `bandera_calidad` is the §7
    *    volume floor (DAX `BLANK() < 500` is true, so a missing base
    *    flags 0);
    *  - `recuperacion_pot_10/_20`, `brecha_relativa`, `gap_vs_meta` —
    *    §8's opportunity measures against the 0.95 coverage target.
    *
    * Determinism: value sums are exact DECIMAL(18,2); the only IEEE
    * steps are the profile division, the scale multiply and the final
    * ratios — each rounded, each replayed verbatim by the oracle.
    * Scale shape: two partial-agged shuffles onto the bounded
    * mode×day-type×day grain, then panel math on ≤ |modes|·|day types|
    * rows; the per-day-type calendar relation broadcasts.
    */
  def revenueCoverageGap(validEvents: DataFrame,
                         baseFrom: Int, baseTo: Int,
                         winFrom: Int, winTo: Int,
                         comparableModes: Seq[String],
                         coverageFloor: Double = 0.30,
                         coverageCeil: Double = 1.50,
                         qualityMinVolume: Double = 500.0,
                         coverageTarget: Double = 0.95): DataFrame = {
    val ev = validEvents
      .filter(col("date_sk").between(winFrom, winTo) && col("value").isNotNull)
      .select(col("event_type_norm").as("mode_code"), col("tipo_dia"),
        col("date_sk"), money(col("value")).as("v"))
      .ckptPartitioned()
    val observed = ev.groupBy(col("mode_code"), col("tipo_dia"))
      .agg(coalesce(round(sum(col("v")), 2), lit(0)).cast("double")
        .as("validaciones"))
    val profile = ev.filter(col("date_sk").between(baseFrom, baseTo))
      .groupBy(col("mode_code"), col("tipo_dia"), col("date_sk"))
      .agg(sum(col("v")).as("day_total"))
      .groupBy(col("mode_code"), col("tipo_dia"))
      .agg(sum(col("day_total")).as("base_total"),
        count(lit(1)).as("n_dias_base"))
    val calDays = ev.groupBy(col("tipo_dia"))
      .agg(countDistinct(col("date_sk")).as("n_dias"))
    val isComparable = col("mode_code").isInCollection(comparableModes)
    observed
      .join(profile, Seq("mode_code", "tipo_dia"), "left")
      .join(broadcast(calDays), Seq("tipo_dia"))
      .withColumn("subidas_diarias_base",
        round(col("base_total").cast("double") / col("n_dias_base"), 2))
      .withColumn("__pe0",
        round(col("subidas_diarias_base") * col("n_dias"), 2))
      .withColumn("pasajeros_estimados",
        when(isComparable && col("__pe0") > 0, col("__pe0")))
      .withColumn("cobertura",
        round(col("validaciones") / col("pasajeros_estimados"), 4))
      .withColumn("brecha_signed",
        round(col("pasajeros_estimados") - col("validaciones"), 2))
      .withColumn("brecha_no_validada",
        when(col("brecha_signed").isNull, lit(null).cast("double"))
          .when(col("brecha_signed") > 0, col("brecha_signed"))
          .otherwise(lit(0).cast("double")))
      .withColumn("sobrevalidacion",
        when(col("brecha_signed").isNull, lit(null).cast("double"))
          .when(col("brecha_signed") < 0, -col("brecha_signed"))
          .otherwise(lit(0).cast("double")))
      .withColumn("estado_comparabilidad",
        when(!isComparable, "NO_COMPARABLE_MODO")
          .when(col("pasajeros_estimados").isNull, "NO_COMPARABLE_SIN_BASE")
          .when(col("cobertura") < coverageFloor,
            "NO_COMPARABLE_BASE_SOBREDIMENSIONADA")
          .when(col("cobertura") > coverageCeil,
            "NO_COMPARABLE_BASE_SUBDIMENSIONADA")
          .otherwise("COMPARABLE"))
      .withColumn("bandera_calidad",
        when(col("pasajeros_estimados").isNull ||
          col("pasajeros_estimados") < qualityMinVolume, 0).otherwise(1))
      .withColumn("recuperacion_pot_10",
        round(lit(0.10) * col("brecha_no_validada"), 2))
      .withColumn("recuperacion_pot_20",
        round(lit(0.20) * col("brecha_no_validada"), 2))
      .withColumn("brecha_relativa",
        round(col("brecha_no_validada") / col("pasajeros_estimados"), 4))
      .withColumn("gap_vs_meta",
        round(lit(coverageTarget) - col("cobertura"), 4))
      .select("mode_code", "tipo_dia", "validaciones", "n_dias_base",
        "n_dias", "subidas_diarias_base", "pasajeros_estimados", "cobertura",
        "brecha_signed", "brecha_no_validada", "sobrevalidacion",
        "estado_comparabilidad", "bandera_calidad", "recuperacion_pot_10",
        "recuperacion_pot_20", "brecha_relativa", "gap_vs_meta")
  }

  /** Cohort retention: users grouped by their first-seen day, distinct
    * users retained per (cohort, day-offset), and the share of the
    * day-0 cohort size. Scale shape: first-seen is one user-keyed
    * shuffle; the join back to events is co-keyed on the same key (at
    * 100 TB the exchange is reused, never re-planned per stage); the
    * per-cohort base sizes are ≤ #days rows — broadcast.
    */
  def retentionCohort(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_date"))
    val offsets = ev.join(first, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("day"), col("cohort_date")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("retained_users"))
    // day-0 retained == cohort size by construction (every user's
    // first event is at offset 0)
    val base = offsets.filter(col("offset_days") === 0)
      .select(col("cohort_date"), col("retained_users").as("cohort_size"))
    offsets.join(broadcast(base), "cohort_date")
      // RAW IEEE quotient, not round(…, 2): rounding a double quotient
      // diverges engines whenever its shortest decimal lands on a .5
      // boundary (Spark rounds the string, DuckDB the binary) — the
      // repo-wide rule for share columns (see skew_hot_keys).
      .withColumn("pct_retained",
        lit(100.0) * col("retained_users") / col("cohort_size"))
      .drop("cohort_size")
  }

  /** Cumulative cohort value (the LTV curve): per (cohort first-seen
    * day, age in days) the period revenue, the running cumulative
    * revenue, and cumulative value PER COHORT MEMBER — the
    * "how much is a user worth by age N" panel [[retentionCohort]]'s
    * headcount view prices out. Revenue accumulates as exact
    * DECIMAL(18,2) sums (the money rule) with the running total a
    * decimal window over the ≤#days panel per cohort (the day-panel
    * window convention); per-member value is ONE IEEE division of
    * the exact cumulative by the day-0 cohort size.
    *
    * Scale shape: one user-keyed first-seen aggregate, one co-keyed
    * join back (same partitioning), one (cohort, age) partial-agg
    * shuffle — the window and the broadcast size panel never see
    * fact rows.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("value").cast("double").as("v"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_date"))
    val byAge = ev.join(first, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("day"), col("cohort_date")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_active_users"),
        coalesce(sum(graft.expressions.Kernels.toDecimal(col("v"), 18, 2)),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2)))
          .as("__rev"))
    val base = byAge.filter(col("age_days") === 0)
      .select(col("cohort_date"), col("n_active_users").as("cohort_size"))
    val w = Window.partitionBy(col("cohort_date")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.join(broadcast(base), "cohort_date")
      .withColumn("__cum", sum(col("__rev")).over(w))
      .select(col("cohort_date"), col("age_days"), col("n_active_users"),
        col("__rev").cast("double").as("revenue"),
        col("__cum").cast("double").as("cum_revenue"),
        (col("__cum").cast("double") / col("cohort_size").cast("double"))
          .as("ltv_per_user"))
  }

  /** Funnel LATENCY panel — how long conversion takes, not just how
    * often: per user, the first CLICK and the first PURCHASE at-or-
    * after it (the [[funnelSteps]] ordering convention: event time,
    * event_id tie-break), then exact p25/p50/p75/p90 of the
    * click→purchase latency over converted users plus the conversion
    * rate — the SLA readout next to the funnel's volume counts.
    *
    * Scale shape: one user-keyed shuffle (running-min window + the
    * per-user collapse share the partitioning), the per-user panel
    * eagerly checkpointed for its two consumers, and the exact
    * latency quantiles through [[Profiling.exactQuantilesBy]]'s
    * two-phase rank brackets — latencies are ms-grain near-unique,
    * exactly the shape where the builtin percentile's single-reducer
    * value map dies at scale. Output: one row.
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        upper(trim(col("event_type"))).as("et"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev.withColumn("first_click",
      min(when(col("et") === "CLICK", col("ts"))).over(w))
    val perUser = staged.groupBy(col("user_id")).agg(
        max(when(col("et") === "CLICK", 1).otherwise(0)).as("had_click"),
        min(when(col("et") === "PURCHASE" && col("first_click").isNotNull,
          unix_millis(col("ts")) - unix_millis(col("first_click"))))
          .as("latency_ms"))
      .filter(col("had_click") === 1)
      .ckptPartitioned()
    val counts = perUser.agg(
      count(lit(1)).as("n_clickers"),
      count(col("latency_ms")).as("n_converted"),
      round(lit(100.0) * count(col("latency_ms")) /
        when(count(lit(1)) === 0, lit(null)).otherwise(count(lit(1))), 2)
        .as("pct_convert"))
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val q = Profiling.exactQuantilesBy(
        perUser.filter(col("latency_ms").isNotNull), Seq.empty, "latency_ms", ps)
      .agg(
        max(when(col("quantile") === 0.25, col("value"))).as("p25_ms"),
        max(when(col("quantile") === 0.5, col("value"))).as("p50_ms"),
        max(when(col("quantile") === 0.75, col("value"))).as("p75_ms"),
        max(when(col("quantile") === 0.9, col("value"))).as("p90_ms"))
    counts.crossJoin(broadcast(q))
  }

  /** Ordered conversion funnel VIEW → CLICK → PURCHASE: a step counts
    * only when it happens at-or-after the user's first completion of
    * the previous step (event-time order with event_id tie-break).
    * One user-keyed shuffle: both running-min windows share the
    * partitioning/ordering (one sort), and the per-user flag
    * aggregation reuses the same hash partitioning; only the final
    * 1-row panel is a benign single-partition aggregate.
    */
  def funnelSteps(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        upper(trim(col("event_type"))).as("et"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("first_view", min(when(col("et") === "VIEW", col("ts"))).over(w))
      .withColumn("first_click_av",
        min(when(col("et") === "CLICK" && col("first_view").isNotNull, col("ts"))).over(w))
    val perUser = staged.groupBy(col("user_id")).agg(
      max(when(col("et") === "VIEW", 1).otherwise(0)).as("had_view"),
      max(when(col("et") === "CLICK" && col("first_view").isNotNull, 1).otherwise(0))
        .as("had_click"),
      max(when(col("et") === "PURCHASE" && col("first_click_av").isNotNull, 1).otherwise(0))
        .as("had_purchase"))
    def pct(num: Column, den: Column): Column =
      round(lit(100.0) * num / when(den === 0, lit(null)).otherwise(den), 2)
    perUser.agg(
      count(lit(1)).as("users_total"),
      sum(col("had_view")).as("users_view"),
      sum(col("had_click")).as("users_click_after_view"),
      sum(col("had_purchase")).as("users_purchase_after_click"),
      pct(sum(col("had_view")), count(lit(1))).as("pct_to_view"),
      pct(sum(col("had_click")), sum(col("had_view"))).as("pct_view_to_click"),
      pct(sum(col("had_purchase")), sum(col("had_click"))).as("pct_click_to_purchase"))
  }

  /** One-row session-quality panel over the sessionizer's output —
    * the KPI surface a session table exists to feed: session/user
    * counts, exact p50/p90 duration, events per session, bounce rate
    * (single-event sessions) and value per session. Runs on the
    * ALREADY-AGGREGATED session relation (one row per session), so
    * every stat is panel arithmetic: exact counts/decimal sums with
    * one division each, exact sort-based percentiles (the F2
    * `percentile == quantile_cont` parity), distinct users as the
    * standard two-phase aggregate.
    */
  def sessionStats(sessions: DataFrame, userCol: String): DataFrame = {
    val dur = unix_millis(col("session_end")) - unix_millis(col("session_start"))
    // ms durations are near-unique: the duration quantiles go through
    // the rank brackets (the builtin exact percentile would merge the
    // whole duration->count map in ONE reducer); the slim projection
    // is checkpointed for its two consumers
    val base = sessions.select(col(userCol).as("__u"), col("n_events"),
        col("value_sum"), dur.as("__dur_ms"))
      .ckptPartitioned()
    val counts = base.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("__u")).as("n_users"),
      (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_events"),
      (sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("double")
        / count(lit(1))).as("bounce_rate"),
      (sum(money(col("value_sum"))).cast("double") / count(lit(1)))
        .as("avg_value"))
    val q = Profiling.exactQuantilesBy(base, Seq.empty, "__dur_ms", Seq(0.5, 0.9))
      .agg(max(when(col("quantile") === 0.5, col("value"))).as("p50_duration_ms"),
           max(when(col("quantile") === 0.9, col("value"))).as("p90_duration_ms"))
    counts.crossJoin(broadcast(q))
      .select(col("n_sessions"), col("n_users"),
        col("p50_duration_ms"), col("p90_duration_ms"),
        col("avg_events"), col("bounce_rate"), col("avg_value"))
  }

  /** Multi-model marketing ATTRIBUTION panel: every PURCHASE's value
    * credited to its preceding CLICKs (same user, within
    * `windowSec`) under the three standard models — first-touch
    * (all credit to the earliest in-window click), last-touch (the
    * latest), linear (split equally) — reported per (model, click
    * day). The credit-assignment semantics on top of the E9 pair
    * join, which only MATCHES pairs; which click "deserves" the
    * conversion is a modeling choice, and shipping all three side by
    * side is how the choice gets made on evidence.
    *
    * Scale shape: purchases ⋈ clicks is the E9 equi-key (user) +
    * bounded time-residual hash join — never a cartesian; per-purchase
    * first/last are ONE struct-min/max partial agg (no window); the
    * model expansion is pair-sized. Engine parity: first/last credits
    * are the exact DECIMAL purchase value; the linear split is a
    * full-entropy quotient — floor-grid to 1e-6 before its
    * DECIMAL(28,6) partial (§5).
    */
  def attributionModels(events: DataFrame, windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec=$windowSec must be positive")
    val winMs = windowSec * 1000L
    val ev = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        upper(trim(col("event_type"))).as("et"), col("value"))
    val clicks = ev.filter(col("et") === "CLICK")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("et") === "PURCHASE")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"),
        coalesce(money(col("value")), money(lit(0.0))).as("p_val"))
    val pairs = purchases.join(clicks, Seq("user_id"))
      .filter(col("click_ts") <= col("p_ts") &&
        unix_millis(col("p_ts")) - unix_millis(col("click_ts")) <= winMs)
      .select(col("p_id"), col("p_val"), col("click_ts"), col("click_id"))
      .ckptPartitioned()
    val perP = pairs.groupBy(col("p_id"), col("p_val"))
      .agg(count(lit(1)).as("n_clicks"),
        min(struct(col("click_ts"), col("click_id"))).as("first_c"),
        max(struct(col("click_ts"), col("click_id"))).as("last_c"))
    val g6 = (c: Column) => floor(c * lit(1e6)) / lit(1e6)
    val credit6 = graft.expressions.Kernels.toDecimal(
      g6(col("p_val").cast("double") / col("n_clicks").cast("double")), 28, 6)
    val linear = pairs.join(perP.select(col("p_id"), col("n_clicks")), "p_id")
      .select(lit("linear").as("model"), col("click_ts"),
        credit6.as("credit"))
    val firstTouch = perP.select(lit("first_touch").as("model"),
      col("first_c.click_ts").as("click_ts"),
      col("p_val").cast(org.apache.spark.sql.types.DataTypes
        .createDecimalType(28, 6)).as("credit"))
    val lastTouch = perP.select(lit("last_touch").as("model"),
      col("last_c.click_ts").as("click_ts"),
      col("p_val").cast(org.apache.spark.sql.types.DataTypes
        .createDecimalType(28, 6)).as("credit"))
    linear.unionByName(firstTouch).unionByName(lastTouch)
      .groupBy(col("model"), to_date(col("click_ts")).as("click_day"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).cast("double").as("attributed_value"))
  }

  /** Time-BOUNDED funnel: VIEW → CLICK → PURCHASE where each step
    * counts only within `windowSec` of the PREVIOUS step's first
    * completion — the product-analytics form of `funnelSteps`'
    * unbounded ladder ("converted eventually" vs "converted inside
    * the attribution window"; a purchase three months after the
    * click is retention, not funnel conversion).
    *
    * Same execution shape as the unbounded funnel: all running-min
    * windows share ONE user-keyed sort (frames bounded by a user's
    * own events), one per-user collapse, one 1-row panel. The step
    * deadline compares epoch millis (ms-precision, the sessionizer
    * parity) — engine-identical integer arithmetic.
    */
  def funnelWindowed(events: DataFrame, windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec=$windowSec must be positive")
    val winMs = windowSec * 1000L
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        upper(trim(col("event_type"))).as("et"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("first_view", min(when(col("et") === "VIEW", col("ts"))).over(w))
      .withColumn("first_click_w",
        min(when(col("et") === "CLICK" && col("first_view").isNotNull &&
          unix_millis(col("ts")) - unix_millis(col("first_view")) <= winMs,
          col("ts"))).over(w))
      .withColumn("first_purchase_w",
        min(when(col("et") === "PURCHASE" && col("first_click_w").isNotNull &&
          unix_millis(col("ts")) - unix_millis(col("first_click_w")) <= winMs,
          col("ts"))).over(w))
    val perUser = staged.groupBy(col("user_id")).agg(
      max(when(col("et") === "VIEW", 1).otherwise(0)).as("had_view"),
      max(when(col("first_click_w").isNotNull, 1).otherwise(0)).as("had_click"),
      max(when(col("first_purchase_w").isNotNull, 1).otherwise(0)).as("had_purchase"))
    def pct(num: Column, den: Column): Column =
      round(lit(100.0) * num / when(den === 0, lit(null)).otherwise(den), 2)
    perUser.agg(
      count(lit(1)).as("users_total"),
      sum(col("had_view")).as("users_view"),
      sum(col("had_click")).as("users_click_in_window"),
      sum(col("had_purchase")).as("users_purchase_in_window"),
      pct(sum(col("had_view")), count(lit(1))).as("pct_to_view"),
      pct(sum(col("had_click")), sum(col("had_view"))).as("pct_view_to_click"),
      pct(sum(col("had_purchase")), sum(col("had_click"))).as("pct_click_to_purchase"))
  }

  /** 7-day rolling demand: aggregate the fact to one row per day (one
    * partial-aggregable shuffle), then ROWS-window the tiny daily
    * series — the rolling sum/average never sees fact rows, so the
    * single-partition window is the same benign class as the pack's
    * grand totals. Exact: the decimal day sums roll up order-free.
    */
  def rollingDemand(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("viajes"),
        sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 18, 2)).as("__dem"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("demanda", coalesce(round(col("__dem"), 2), lit(0)).cast("double"))
      .withColumn("demanda_7d",
        coalesce(round(sum(col("__dem")).over(w), 2), lit(0)).cast("double"))
      .withColumn("dias_en_ventana", count(lit(1)).over(w))
      // RAW quotient, no rounding: an exact decimal sum of 2dp days
      // divided by a small count lands on a .xx5 shortest-decimal
      // boundary easily (sf0.1 hit one), where Spark's string-HALF_UP
      // and DuckDB's binary round diverge; the unrounded double is
      // IEEE-identical in any engine.
      .withColumn("demanda_7d_avg",
        sum(col("__dem")).over(w).cast("double") / count(lit(1)).over(w))
      .drop("__dem")
  }

  /** Per-group z-score outlier detection (the training-data outlier
    * filter): two-phase — exact group moments (decimal sums of value
    * and value², order-free), then the tiny per-group stats broadcast
    * back over the fact and each row scored in one codegen'd pass.
    * Never a window over fact rows; the fact is scanned twice but
    * shuffled zero times. Variance via the exact-sum identity
    * (s2 - s1²/n)/(n-1), every double op replayed identically by the
    * oracle.
    */
  def anomalyZscore(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_id"), upper(trim(col("event_type"))).as("event_type_norm"),
        col("value"))
    val stats = ev.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n"),
        sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 28, 6)).as("s1"),
        sum(graft.expressions.Kernels.toDecimal((col("value") * col("value")).cast("double"), 28, 6)).as("s2"))
      .filter(col("n") >= 2)
      .select(col("event_type_norm"),
        (col("s1").cast("double") / col("n")).as("mean"),
        sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") / col("n"))
          / (col("n") - 1)).as("std"))
    val z = round((col("value") - col("mean"))
      / when(col("std") === 0, lit(null)).otherwise(col("std")), 3)
    ev.join(broadcast(stats), "event_type_norm")
      .withColumn("z", z)
      .filter(abs(col("z")) > 3)
      .select(col("event_id"), col("event_type_norm"), col("value"),
        round(col("mean"), 3).as("grupo_media"),
        round(col("std"), 3).as("grupo_std"), col("z"))
  }

  /** MAD-based robust outlier detection — the heavy-tail-safe twin of
    * [[anomalyZscore]]: a z-score breaks down exactly when it matters
    * (outliers inflate the mean/std that define them), while the
    * median and the MAD (median absolute deviation) have a 50%
    * breakdown point. Flags rows where
    * |value − median| / (MAD · 1.4826) exceeds `cut` (1.4826 ≈
    * 1/Φ⁻¹(3/4) rescales MAD to σ under normality, so `cut` reads in
    * sigma units like the z-score's).
    *
    * Scale shape: two exact-median passes (group median, then median
    * of absolute deviations), each through
    * [[Profiling.exactQuantilesBy]]'s rank brackets (bit-identical to
    * the `percentile`/`quantile_cont` interpolation, but never a
    * per-group value→count map in one reducer — values and absdevs
    * are near-unique), each reduced to a ≤-#groups-row panel and
    * broadcast back; the fact is scanned, never globally sorted.
    * Zero-MAD groups (constant-majority values) yield NULL scores and
    * drop, like the z-score's zero-std guard.
    */
  def anomalyMad(events: DataFrame, cut: Double = 3.5): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_id"), upper(trim(col("event_type"))).as("event_type_norm"),
        col("value"))
      .ckptPartitioned()
    val bigEnough = ev.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).drop("n")
    // the median panel feeds BOTH the MAD pass and the final score
    // join through the lazy `dev` relation — without the checkpoint
    // each consumer re-ran the whole rank-bracket median over the
    // fact (the r13 bench's 2.4x-floor gap on this query)
    val med = Profiling.exactQuantilesBy(ev, Seq("event_type_norm"), "value",
        Seq(0.5))
      .select(col("event_type_norm"), col("value").as("med"))
      .join(bigEnough, "event_type_norm")
      .ckptPartitioned()
    val dev = ev.join(broadcast(med), "event_type_norm")
      .withColumn("__absdev", abs(col("value") - col("med")))
    val mad = Profiling.exactQuantilesBy(dev, Seq("event_type_norm"), "__absdev",
        Seq(0.5))
      .select(col("event_type_norm"), col("value").as("mad"))
    val score = round((col("value") - col("med"))
      / when(col("mad") * 1.4826 === 0, lit(null))
        .otherwise(col("mad") * 1.4826), 3)
    dev.join(broadcast(mad), "event_type_norm")
      .withColumn("robust_z", score)
      .filter(abs(col("robust_z")) > cut)
      .select(col("event_id"), col("event_type_norm"), col("value"),
        round(col("med"), 3).as("grupo_mediana"),
        round(col("mad"), 3).as("grupo_mad"), col("robust_z"))
  }

  /** Top-N origin→destination matrix (docs/queries/02_analisis_od
    * .sql:25-39): flows between supplier nation (origin) and customer
    * nation (destination), intra-zone flows excluded, ranked by
    * expanded demand with explicit tie-breaks. The bounded nation dim
    * broadcasts; customer/supplier scale with the lake, so their
    * joins are left to Catalyst/AQE (auto-broadcast while small,
    * key-partitioned shuffle at 100 TB); orderBy+limit plans as
    * TakeOrderedAndProject (no global sort).
    */
  def odMatrix(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
               supplier: DataFrame, nation: DataFrame): DataFrame = {
    val nOrig = nation.select(
      col("n_nationkey").as("orig_nationkey"), col("n_name").as("zona_origen"))
    val nDest = nation.select(
      col("n_nationkey").as("dest_nationkey"), col("n_name").as("zona_destino"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nOrig), col("s_nationkey") === col("orig_nationkey"))
      .join(broadcast(nDest), col("c_nationkey") === col("dest_nationkey"))
      .filter(col("zona_origen") =!= col("zona_destino"))
      .groupBy(col("zona_origen"), col("zona_destino"))
      .agg(
        count(lit(1)).as("viajes_totales"),
        round(sum(money(col("l_extendedprice"))), 0).cast("double").as("demanda_expandida"),
        exactAvg(col("l_quantity"), count(lit(1)), 2).as("qty_promedio"))
      .orderBy(col("demanda_expandida").desc, col("zona_origen"), col("zona_destino"))
      .limit(30)
  }

  /** Event-type transition matrix (first-order Markov counts): for
    * each user's event sequence in (ts, event_id) order, count
    * from→to adjacent pairs and each transition's share of its source
    * type's outgoing total. One user-keyed sort+window shuffle over
    * the fact; the (from, to) aggregate is map-side partial with at
    * most |types|² keys; per-source totals broadcast back. Shares are
    * RAW IEEE quotients (the repo's share-column rule).
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        upper(trim(col("event_type"))).as("et"))
    val seqW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = ev.withColumn("to_type", lead(col("et"), 1).over(seqW))
      .filter(col("to_type").isNotNull)
      .groupBy(col("et").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("total_from"))
    trans.join(broadcast(totals), "from_type")
      .withColumn("p", col("n") / col("total_from"))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
  }

  /** Entropy rate of the user-journey Markov chain — the one-scalar
    * predictability readout over [[transitionMatrix]]'s full matrix:
    * H = −Σ_ij π_i·p_ij·ln p_ij with π taken as the empirical
    * out-transition mass (so π_i·p_ij = n_ij/N and the whole sum is
    * panel math over the k² transition cells). Low H = journeys are
    * scripted; ln(k) = uniform wandering. Perplexity = e^H is the
    * effective branching factor.
    *
    * Engine parity: ln rides only the panel (gridded 1e-6 per cell,
    * §5), each term re-grids before its DECIMAL(28,6) partial sum;
    * the final exp is one mirrored call on identical input, gridded.
    */
  def markovEntropyRate(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val tm = transitionMatrix(events).ckptPartitioned()
    val states = tm.select(col("from_type").as("s"))
      .unionAll(tm.select(col("to_type").as("s")))
      .agg(countDistinct(col("s")).as("n_states"))
    val tot = tm.agg(sum(col("n")).as("__nt"))
    val h = tm.crossJoin(broadcast(tot))
      .agg(
        coalesce(sum(q6((col("n").cast("double") / col("__nt").cast("double"))
          * q6(log(col("p")))).cast(d6)), lit(0).cast(d6)).as("__h"),
        max(col("__nt")).as("n_transitions"))
    h.crossJoin(broadcast(states))
      .select(col("n_transitions"), col("n_states"),
        (-col("__h").cast("double")).as("entropy_rate_nats"))
      .withColumn("perplexity", q6(exp(col("entropy_rate_nats"))))
  }

  /** Top-N days per group by daily volume via DENSE_RANK (ties all
    * kept, so the output is a deterministic SET without tie-break
    * columns). The daily aggregate is one partial-aggregable shuffle;
    * the rank window runs over ≤ |days| rows per group — never over
    * fact rows.
    */
  def topDaysPerType(events: DataFrame, topN: Int): DataFrame = {
    val daily = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(upper(trim(col("event_type"))).as("event_type_norm"),
        to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val rankW = Window.partitionBy(col("event_type_norm"))
      .orderBy(col("n_events").desc)
    daily.withColumn("rnk", dense_rank().over(rankW))
      .filter(col("rnk") <= topN)
  }

  /** Day-of-week seasonal profile with residuals — the first step of
    * a seasonal decomposition: per-day demand, the day-of-week mean
    * (the weekly seasonal component), and each day's deviation from
    * its weekday norm. Demand sums in DECIMAL (order-free), means are
    * the one-division house convention, the 7-row seasonal panel
    * broadcasts back; `isoDow` is the shared Temporal↔isodow parity.
    */
  def dowSeasonality(events: DataFrame): DataFrame = {
    import graft.functions.Temporal
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 18, 2)).as("dem"))
      .withColumn("iso_dow", Temporal.isoDow(col("day")))
    val means = daily.groupBy(col("iso_dow"))
      .agg((sum(col("dem")).cast("double") / count(lit(1))).as("dow_mean_demand"))
    daily.join(broadcast(means), "iso_dow")
      .select(col("day"), col("iso_dow"), col("n_events"),
        col("dem").cast("double").as("demand"),
        col("dow_mean_demand"),
        (col("dem").cast("double") - col("dow_mean_demand")).as("residual"))
  }

  /** Additive seasonal decomposition of the daily demand series —
    * the STL-lite (trend / weekly-seasonal / residual) panel:
    * trend = centered 7-day moving average (NULL at the 3-day edges
    * where the window is incomplete — a partial-window "trend" is a
    * different statistic), seasonal = the iso-dow mean of the
    * detrended series, residual = demand − trend − seasonal.
    *
    * Scale shape: the fact collapses in one partial-agg shuffle; the
    * 7-row window, the ≤7-key seasonal means and the final broadcast
    * join all run on the ≤#days panel ([[dailyDelta]]'s day-panel
    * convention). Numeric parity: demand is an exact 2-dp decimal
    * sum; trend = decimal 7-sum, ONE double division; detrended
    * values are full-entropy, so the seasonal mean floor-quantizes
    * them to the 1e-6 grid before its DECIMAL(28,12) partials (the
    * §5 rule); residual is raw IEEE over engine-identical inputs.
    */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    import graft.functions.Temporal
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 18, 2)).as("dem"))
      .withColumn("iso_dow", Temporal.isoDow(col("day")))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val withTrend = daily
      .withColumn("trend",
        when(count(lit(1)).over(w7) === 7,
          sum(col("dem")).over(w7).cast("double") / lit(7.0)))
      .withColumn("demand", col("dem").cast("double"))
      .withColumn("__detrended", col("demand") - col("trend"))
    // DECIMAL scale == the quantization grid's own scale (6): the
    // 1e-6 grid point is EXACTLY representable at scale 6, and the
    // double approximation sits ~1e-10 away — far inside the scale-6
    // rounding margin, so both engines' casts agree for ANY value
    // magnitude. At scale 12 the 12th digit fell inside the double's
    // representation error for sf0.1-sized day sums (~1e5) and the
    // engines' cast paths disagreed by one quantum (caught by the
    // sf0.1 gate; sf0.01 magnitudes never exposed it).
    val seasonal = withTrend.filter(col("trend").isNotNull)
      .groupBy(col("iso_dow"))
      .agg((sum(graft.expressions.Kernels.toDecimal(
          floor(col("__detrended") * lit(1e6)) / lit(1e6), 28, 6)).cast("double")
        / count(lit(1))).as("seasonal"))
    withTrend.join(broadcast(seasonal), Seq("iso_dow"), "left")
      .select(col("day"), col("iso_dow"), col("demand"), col("trend"),
        col("seasonal"),
        (col("demand") - col("trend") - col("seasonal")).as("residual"))
  }

  /** Seasonal/trend STRENGTH panel (Hyndman's STL diagnostics) over
    * [[seasonalDecompose]]: `F_seasonal = max(0, 1 − Var(R)/Var(S+R))`
    * and `F_trend = max(0, 1 − Var(R)/Var(T+R))` — one row that says
    * whether the weekly cycle and the trend CARRY SIGNAL (≈0 = the
    * component is noise; ≳0.6 = strong), i.e. whether the
    * seasonal-naive/Holt–Winters tier is worth its state, measured
    * not guessed. Decomposable days only (the MA window's interior).
    *
    * Variances follow the §5 quantized-moment shape: 4dp means, 1e-6
    * floor-grid squared deviations summed as exact DECIMAL(28,6)
    * partials, single divisions; the two strength ratios are plain
    * IEEE edge math, NULL when Var(R) itself is NULL (degenerate
    * panel), clamped at 0.
    */
  def seasonalStrength(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val d = seasonalDecompose(events)
      .filter(col("trend").isNotNull)
      .select(col("residual").as("r"),
        (col("seasonal") + col("residual")).as("sr"),
        (col("trend") + col("residual")).as("tr"))
      .localCheckpoint(false)
    // dec6ToDouble throughout: daily demand sums squared push the
    // decimal partials past 2^53 micro-units at 10× data, where the
    // two engines' decimal→double casts drift an ulp (§5)
    val means = d.agg(
      round(dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6(col("r")), 28, 6)))
        / count(lit(1)), 4).as("mr"),
      round(dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6(col("sr")), 28, 6)))
        / count(lit(1)), 4).as("msr"),
      round(dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6(col("tr")), 28, 6)))
        / count(lit(1)), 4).as("mtr"),
      count(lit(1)).as("n_days"))
    val v = d.crossJoin(broadcast(means)).agg(
      first(col("n_days")).as("n_days"),
      (dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6((col("r") - col("mr")) * (col("r") - col("mr"))), 28, 6)))
        / first(col("n_days"))).as("var_r"),
      (dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6((col("sr") - col("msr")) * (col("sr") - col("msr"))), 28, 6)))
        / first(col("n_days"))).as("var_sr"),
      (dec6ToDouble(sum(graft.expressions.Kernels.toDecimal(q6((col("tr") - col("mtr")) * (col("tr") - col("mtr"))), 28, 6)))
        / first(col("n_days"))).as("var_tr"))
    v.select(col("n_days"), col("var_r"), col("var_sr"), col("var_tr"),
      greatest(lit(0.0), lit(1.0) - col("var_r") /
        when(col("var_sr") === 0, lit(null)).otherwise(col("var_sr")))
        .as("f_seasonal"),
      greatest(lit(0.0), lit(1.0) - col("var_r") /
        when(col("var_tr") === 0, lit(null)).otherwise(col("var_tr")))
        .as("f_trend"))
  }

  /** Seasonality-aware anomaly panel: the MAD robust-z rule applied
    * to [[seasonalDecompose]]'s residuals — "unusual FOR THAT
    * weekday", where a raw-value z-score would flag every ordinary
    * weekend. Emits every decomposable day with its robust z and the
    * flag (not just the hits — the panel is ≤#days and the full
    * series is the monitoring artifact).
    *
    * The decomposition panel materializes once (localCheckpoint — two
    * consumers: the median panel and the deviation join). Median/MAD
    * are exact order statistics over engine-identical residual bits
    * (the F2 percentile≡quantile_cont parity); robust z ships RAW
    * (the §6 quotient rule — no rounding on full-entropy quotients).
    */
  def anomalySeasonal(events: DataFrame, cut: Double = 3.5): DataFrame = {
    val dec = seasonalDecompose(events).filter(col("residual").isNotNull)
      .ckptPartitioned()
    val med = dec.agg(percentile(col("residual"), lit(0.5)).as("med"))
    val dev = dec.crossJoin(broadcast(med))
      .withColumn("__absdev", abs(col("residual") - col("med")))
    val mad = dev.agg(percentile(col("__absdev"), lit(0.5)).as("mad"))
    dev.crossJoin(broadcast(mad))
      .withColumn("robust_z", (col("residual") - col("med"))
        / when(col("mad") * lit(1.4826) === 0, lit(null))
          .otherwise(col("mad") * lit(1.4826)))
      .select(col("day"), col("iso_dow"), col("demand"), col("residual"),
        col("med"), col("mad"), col("robust_z"),
        (abs(col("robust_z")) > cut).as("is_anomaly"))
  }

  /** A/B experiment readout in ONE aggregation pass: per-variant
    * distinct users and distinct converters, conversion rates, the
    * absolute lift, and the standard two-proportion z statistic —
    * each final value a FIXED sequence of IEEE ops over exact integer
    * counts (sqrt is correctly rounded per IEEE 754), so a second
    * engine replays the readout bit-for-bit. Variant assignment is
    * the caller's (pair with [[Sampling.splitAssign]] for the
    * deterministic md5 rule — group-keyed so a user can never
    * straddle arms). The exact-distinct conditional counts pay one
    * Expand (the A11 convention); no join anywhere.
    */
  def abtestReadout(events: DataFrame, variantCol: String, a: String, b: String,
                    convPred: Column): DataFrame = {
    val isA = col(variantCol) === a
    val isB = col(variantCol) === b
    def nz(c: Column) = when(c === 0, lit(null)).otherwise(c)
    val agg = events.filter(col("user_id").isNotNull).agg(
      countDistinct(when(isA, col("user_id"))).as("n_a"),
      countDistinct(when(isB, col("user_id"))).as("n_b"),
      countDistinct(when(isA && convPred, col("user_id"))).as("conv_a"),
      countDistinct(when(isB && convPred, col("user_id"))).as("conv_b"))
    val rateA = col("conv_a") / nz(col("n_a"))
    val rateB = col("conv_b") / nz(col("n_b"))
    val pooled = (col("conv_a") + col("conv_b")) / nz(col("n_a") + col("n_b"))
    // a degenerate arm (empty, or pooled rate 0/1) yields NULL z, not
    // a division error (ANSI mode throws on x/0)
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / nz(col("n_a")) + lit(1.0) / nz(col("n_b"))))
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      (rateB - rateA).as("lift_abs"),
      ((rateB - rateA) / nz(se)).as("z_score"))
  }

  /** Monthly growth accounting — the MAU decomposition a subscription
    * or engagement business reads first: every active (user, month)
    * classified as NEW (first month ever), RETAINED (also active the
    * previous calendar month) or RESURRECTED (active before, but not
    * last month), plus CHURNED (active last month, missing this
    * month) and the quick ratio (new + resurrected) / churned. MAU
    * alone hides composition; the same flat MAU can be healthy
    * retention or a leaky bucket refilled by acquisition.
    *
    * Scale shape: ONE distinct over (user, month) — the only
    * data-sized shuffle, checkpointed for its four consumers — then
    * user-keyed equi-joins (first-month panel, the month-shifted
    * self-join for retained, the anti-join for churned; churn months
    * are bounded to the observed month panel so the horizon's edge
    * never fabricates a churn wave) and a ≤-months aggregate.
    * Windowless; all counts exact longs, the quick ratio one guarded
    * IEEE quotient.
    */
  def growthAccounting(events: DataFrame): DataFrame = {
    def nz(c: Column) = when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val um = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), trunc(to_date(col("ts")), "month").as("month"))
      .distinct()
      .ckptPartitioned()
    val firstM = um.groupBy(col("user_id")).agg(min(col("month")).as("first_month"))
    val shifted = um.select(col("user_id"),
      add_months(col("month"), 1).as("month"), lit(1).as("__was_prev"))
    val classified = um.join(firstM, "user_id")
      .join(shifted, Seq("user_id", "month"), "left")
      .select(col("month"),
        when(col("month") === col("first_month"), "new")
          .when(col("__was_prev") === 1, "retained")
          .otherwise("resurrected").as("status"))
    val mau = classified.groupBy(col("month")).agg(
      count(lit(1)).as("mau"),
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val monthPanel = um.select(col("month")).distinct()
    val churn = um.select(col("user_id"), add_months(col("month"), 1).as("month"))
      .join(monthPanel, Seq("month"), "left_semi")
      .join(um, Seq("user_id", "month"), "left_anti")
      .groupBy(col("month")).agg(count(lit(1)).as("n_churned"))
    mau.join(churn, Seq("month"), "left")
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .select(col("month"), col("mau"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        ((col("n_new") + col("n_resurrected")).cast("double")
          / nz(col("n_churned").cast("double"))).as("quick_ratio"))
  }

  /** Mood's median test across event types — the nonparametric
    * "do these groups share a center" screen that needs nothing but
    * counts: split every value at the GLOBAL median (from
    * [[Profiling.exactQuantilesBy]]'s rank brackets — the value
    * column is near-unique), count above/at-or-below per group, and
    * chi-square the k×2 table. Cruder than Kruskal–Wallis but
    * outlier-immune to the point of ignoring everything except the
    * side of the median — the right first question for heavy-tailed
    * measures. Emits the per-group counts panel AND the single-row
    * verdict columns (chi2, dof) repeated per group row.
    *
    * Scale shape: the rank-bracket median, one broadcast of the 1-row
    * median panel, one ≤-groups counting aggregate, then panel math;
    * each (O−E)²/E term floor-grids to 1e-6 before its DECIMAL
    * partial (panel rows can land in different partitions — the
    * multi-row double-sum rule). Zero-expected cells yield NULL chi2
    * via NULLIF.
    */
  def medianTest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(28, 6)
    def grid6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    def nz(c: Column) = when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val ev = events.filter(col("value").isNotNull)
      .select(upper(trim(col("event_type"))).as("event_type_norm"), col("value"))
      .ckptPartitioned()
    val med = Profiling.exactQuantilesBy(ev, Seq.empty, "value", Seq(0.5))
      .select(col("value").as("__med"))
    val cnt = ev.crossJoin(broadcast(med))
      .groupBy(col("event_type_norm"))
      .agg(sum(when(col("value") > col("__med"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("value") <= col("__med"), 1L).otherwise(0L)).as("n_below_eq"))
      .ckptPartitioned()
    val tot = cnt.agg(sum(col("n_above")).as("__ta"),
      sum(col("n_below_eq")).as("__tb"),
      count(lit(1)).as("__k"))
    val withTot = cnt.crossJoin(broadcast(tot))
      .withColumn("__n", col("__ta") + col("__tb"))
      .withColumn("__rg", col("n_above") + col("n_below_eq"))
    val ea = col("__rg").cast("double") * col("__ta").cast("double") /
      nz(col("__n").cast("double"))
    val eb = col("__rg").cast("double") * col("__tb").cast("double") /
      nz(col("__n").cast("double"))
    val termA = grid6((col("n_above").cast("double") - ea) *
      (col("n_above").cast("double") - ea) / nz(ea))
    val termB = grid6((col("n_below_eq").cast("double") - eb) *
      (col("n_below_eq").cast("double") - eb) / nz(eb))
    val chi2 = withTot
      .agg((sum(termA.cast(d6)) + sum(termB.cast(d6))).as("__chi2d"),
        max(col("__k")).as("__kk"))
      .select(col("__chi2d").cast("double").as("chi2"),
        (col("__kk") - 1L).as("dof"))
    withTot.select(col("event_type_norm"), col("n_above"), col("n_below_eq"),
        ea.as("exp_above"))
      .crossJoin(broadcast(chi2))
  }

  /** Herfindahl–Hirschman concentration per event type — how
    * concentrated activity is across users: `HHI = Σ s_u²` over user
    * shares, emitted with the normalized form `(H − 1/n)/(1 − 1/n)`
    * and the effective participant count `1/H` — the concentration
    * complement to [[giniDemand]]'s inequality curve (HHI is the
    * antitrust/market convention and 1/H reads directly as "how many
    * equal-weight users this behaves like").
    *
    * Engine parity is EXACT, not gridded: `Σ (n_u/N)² = Σ n_u² / N²`,
    * so the data-sized sum is the integer `Σ n_u²` (counts cast to
    * DECIMAL before squaring — the overflow discipline) and the only
    * floating op is one terminal division per type. Scale shape: two
    * partial-agg shuffles ((type, user) collapse, then the type
    * panel); no window, no driver structure. A single-user type has
    * NULL normalized HHI (the 1 − 1/n guard).
    */
  def concentrationHhi(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d19 = DecimalType(19, 0)
    def nz(c: Column) = when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val perUser = events.filter(col("user_id").isNotNull)
      .groupBy(upper(trim(col("event_type"))).as("event_type_norm"),
        col("user_id"))
      .agg(count(lit(1)).as("__n"))
    val m = perUser.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__n")).as("n_events"),
        sum(col("__n").cast(d19) * col("__n").cast(d19)).as("__s2"))
    val hhi = col("__s2").cast("double") /
      nz(col("n_events").cast("double") * col("n_events").cast("double"))
    val invN = lit(1.0) / nz(col("n_users").cast("double"))
    m.select(col("event_type_norm"), col("n_users"), col("n_events"),
      hhi.as("hhi"),
      ((hhi - invN) / nz(lit(1.0) - invN)).as("hhi_normalized"),
      (lit(1.0) / nz(hhi)).as("effective_users"))
  }

  /** Burstiness panel per event type — Goh–Barabási
    * `B = (σ − μ)/(σ + μ)` and the coefficient of variation over the
    * same within-user inter-arrival gaps as [[interarrivalStats]]:
    * B → −1 for a metronome, 0 for a Poisson process, → 1 for heavy
    * bursts — whether traffic is schedule-like or bursty decides
    * provisioning and sessionization defaults, and the scalar pairs
    * with the percentile panel's point estimates.
    *
    * Scale shape: the gap lag is a per-user panel window (never
    * global), then ONE moment aggregate per type — n, Σgap, Σgap² as
    * exact integer DECIMAL partials (gaps cast to DECIMAL before the
    * square — the overflow discipline) — and fixed-order IEEE panel
    * math at the ≤-types edge. Degenerate types (zero mean, σ+μ = 0)
    * yield NULLs via the NULLIF convention.
    */
  def burstiness(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d19 = DecimalType(19, 0)
    def nz(c: Column) = when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val base = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), upper(trim(col("event_type"))).as("event_type_norm"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type_norm"))
      .orderBy(col("ms"), col("event_id"))
    val m = base.withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_ms").cast(d19)).as("__s1"),
        sum(col("gap_ms").cast(d19) * col("gap_ms").cast(d19)).as("__s2"))
    val n = col("n_gaps").cast("double")
    val mu = col("__s1").cast("double") / nz(n)
    val variance = col("__s2").cast("double") / nz(n) - mu * mu
    val sd = when(variance < 0.0, lit(0.0)).otherwise(sqrt(variance))
    m.select(col("event_type_norm"), col("n_gaps"),
      mu.as("mean_gap_ms"), sd.as("std_gap_ms"),
      (sd / nz(mu)).as("cv"),
      ((sd - mu) / nz(sd + mu)).as("burstiness"))
  }

  /** Benjamini–Hochberg FDR readout over per-segment A/B tests — the
    * multiple-comparisons control an experimentation platform needs
    * the moment one experiment is read out across segments: each
    * segment gets the [[abtestReadout]] two-proportion z, a normal
    * two-sided p (Abramowitz–Stegun 7.1.26 erfc — max abs error
    * 1.5e-7, under the 1e-6 grid it is quantized to; the same
    * gridded-libm convention as the mSPRT ln terms), and the BH
    * step-up verdict at FDR `q`: rank p ascending, k* = max rank with
    * `p ≤ rank·q/m`, reject ranks ≤ k*. Naive per-segment 0.05
    * gating inflates false discoveries m-fold; this is the fix.
    *
    * Scale shape: ONE fact scan collapsing to the ≤-segments panel
    * (4 countDistinct partials per segment), eagerly checkpointed;
    * ranking is a triangular panel self-join on (p, segment) — a
    * deterministic total order, windowless by the house rule — and
    * k* one panel aggregate broadcast back. Degenerate segments
    * (empty arm, pooled rate 0/1 → NULL z) are excluded from both m
    * and the output. All comparisons happen on gridded p against the
    * raw-double threshold, a fixed IEEE sequence an oracle replays.
    */
  def benjaminiHochberg(events: DataFrame, segmentCol: String,
                        variantCol: String, a: String, b: String,
                        convPred: Column, q: Double = 0.05): DataFrame = {
    require(q > 0 && q < 1, s"FDR level must be in (0,1): $q")
    def grid6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    def nz(c: Column) = when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val isA = col(variantCol) === a
    val isB = col(variantCol) === b
    val panel = events.filter(col("user_id").isNotNull && col(segmentCol).isNotNull)
      .groupBy(col(segmentCol).as("segment"))
      .agg(
        countDistinct(when(isA, col("user_id"))).as("n_a"),
        countDistinct(when(isB, col("user_id"))).as("n_b"),
        countDistinct(when(isA && convPred, col("user_id"))).as("conv_a"),
        countDistinct(when(isB && convPred, col("user_id"))).as("conv_b"))
    val rateA = col("conv_a") / nz(col("n_a"))
    val rateB = col("conv_b") / nz(col("n_b"))
    val pooled = (col("conv_a") + col("conv_b")) / nz(col("n_a") + col("n_b"))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / nz(col("n_a")) + lit(1.0) / nz(col("n_b"))))
    val z = (rateB - rateA) / nz(se)
    // two-sided normal p = erfc(|z|/sqrt 2), A&S 7.1.26 Horner form
    val x = abs(z) / lit(1.4142135623730951)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    val pv = panel
      .select(col("segment"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        rateA.as("rate_a"), rateB.as("rate_b"), z.as("z_score"),
        grid6(poly * exp(-(x * x))).as("p_value"))
      .filter(col("p_value").isNotNull)
      .ckptPartitioned()
    val ranked = pv.as("x").join(broadcast(pv.as("y")),
        struct(col("y.p_value"), col("y.segment")) <=
          struct(col("x.p_value"), col("x.segment")))
      .groupBy(col("x.segment").as("segment"))
      .agg(count(lit(1)).as("p_rank"))
    val mTot = pv.agg(count(lit(1)).as("__m"))
    val flagged = pv.join(broadcast(ranked), "segment")
      .crossJoin(broadcast(mTot))
      .withColumn("bh_threshold",
        col("p_rank").cast("double") * lit(q) / col("__m").cast("double"))
      .ckptPartitioned()
    val kstar = flagged.agg(coalesce(max(when(
      col("p_value") <= col("bh_threshold"), col("p_rank"))), lit(0L)).as("__k"))
    flagged.crossJoin(broadcast(kstar))
      .select(col("segment"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a"), col("rate_b"), col("z_score"), col("p_value"),
        col("p_rank"), col("bh_threshold"),
        (col("p_rank") <= col("__k")).as("significant"))
  }

  /** Wilson score 95% intervals for per-arm conversion rates — the
    * interval that stays honest at small n and extreme rates where
    * the naive Wald band collapses or leaves [0, 1] (the abtest
    * readout's z says whether arms DIFFER; this says what each arm's
    * rate plausibly IS): center `(p̂ + z²/2n)/(1 + z²/n)`, half-width
    * `z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n)`, z = 1.96 as a parsed
    * literal — sqrt-only panel math, no libm beyond the house rule.
    *
    * One scan → the ≤arms panel of exact user/conversion counts
    * (countDistinct — the abtestReadout grain); fixed-order IEEE per
    * arm at the edge. An empty arm yields NULLs via NULLIF.
    */
  def rateWilson(events: DataFrame, variantCol: String,
                 convPred: Column): DataFrame = {
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val z = lit(1.96)
    val panel = events
      .filter(col("user_id").isNotNull && col(variantCol).isNotNull)
      .groupBy(col(variantCol).as("variant"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(convPred, col("user_id"))).as("n_conv"))
    val n = col("n_users").cast("double")
    val p = col("n_conv").cast("double") / nz(n)
    val denom = lit(1.0) + z * z / n
    val center = (p + z * z / (lit(2.0) * n)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n
      + z * z / (lit(4.0) * n * n)) / denom
    panel.select(col("variant"), col("n_users"), col("n_conv"),
      p.as("rate"),
      (center - half).as("wilson_lo"), (center + half).as("wilson_hi"))
  }

  /** Inter-arrival gap panel — per event type, the distribution of
    * within-user gaps between consecutive events (count, mean, exact
    * p50/p90/p99 in ms): the evidence a sessionization gap parameter
    * and a staleness SLO are chosen by (the p99 inter-arrival IS the
    * natural session boundary candidate). Gaps lag within (user,
    * type) ordered by (ts, id) — a per-user panel window, never
    * global; exact integer ms, interpolated percentiles replayed by
    * `quantile_cont` (the established percentile parity), mean as
    * exact integer sum / count. The per-type gap quantiles run
    * through [[Profiling.exactQuantilesBy]]'s rank brackets — ms
    * gaps are near-unique, and the builtin grouped percentile would
    * hold a whole event type's gap map in one reducer.
    */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), upper(trim(col("event_type"))).as("event_type_norm"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type_norm"))
      .orderBy(col("ms"), col("event_id"))
    val gaps = base.withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .select(col("event_type_norm"), col("gap_ms"))
      .ckptPartitioned()
    val counts = gaps.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_ms")).cast("double") / count(lit(1))).as("mean_gap_ms"))
    val q = Profiling.exactQuantilesBy(gaps, Seq("event_type_norm"), "gap_ms",
        Seq(0.5, 0.9, 0.99))
      .groupBy(col("event_type_norm"))
      .agg(max(when(col("quantile") === 0.5, col("value"))).as("p50_gap_ms"),
           max(when(col("quantile") === 0.9, col("value"))).as("p90_gap_ms"),
           max(when(col("quantile") === 0.99, col("value"))).as("p99_gap_ms"))
    counts.join(broadcast(q), Seq("event_type_norm"))
  }

  /** Quantile normalization of per-group daily series — the
    * distribution-alignment move (omics-classic, equally useful for
    * making per-segment engagement curves comparable): within each
    * group rank the days by value, replace each value with the MEAN
    * across groups of the values holding the same rank. After it,
    * every group has an identical value distribution; ordering within
    * a group is preserved.
    *
    * Scale shape: one fact-sized partial agg to the (group, day)
    * panel; the rank window partitions PER GROUP (panel-sized, never
    * a global sort); the rank-reference means are one tiny agg joined
    * back by rank. Engine parity: ranks are integers with a (value,
    * day) total order; reference means follow the house money
    * convention (exact DECIMAL(18,2) sums, one division, 4dp round).
    */
  def quantileNormalize(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(round(sum(money(col("value"))), 2).cast("double").as("y"))
    val w = Window.partitionBy(col("event_type_norm"))
      .orderBy(col("y"), col("date_sk"))
    val ranked = byDay.withColumn("rank",
      row_number().over(w).cast("int"))
    val refs = ranked.groupBy(col("rank"))
      .agg((round(sum(money(col("y"))).cast("double") / count(lit(1)), 4))
        .as("y_qnorm"), count(lit(1)).as("n_groups"))
    ranked.join(refs, Seq("rank"))
      .select(col("event_type_norm"), col("date_sk"), col("y"),
        col("rank"), col("n_groups"), col("y_qnorm"))
  }

  /** Difference-in-differences readout — the quasi-experimental
    * companion of [[abtestReadout]] for launches WITHOUT a randomized
    * holdout: compare the treated group's pre→post metric change
    * against the control group's over the same calendar split, so any
    * shared trend (seasonality, platform drift) cancels and
    * `ΔΔ = (T_post − T_pre) − (C_post − C_pre)` estimates the effect.
    *
    * One fact scan → one 1-row conditional aggregation (eight
    * cells). Engine parity: per-cell means follow the house money
    * convention (exact DECIMAL sums cast to double, one division,
    * rounded to 4dp); the DiD combines the four rounded means in a
    * fixed subtraction order, so both engines walk identical IEEE
    * steps. Degenerate cells (no rows) yield NULL means and a NULL
    * estimate, not a division error.
    */
  def diffInDiff(events: DataFrame, groupCol: String, treat: String,
                 control: String, valueCol: Column,
                 postPred: Column): DataFrame = {
    def nz(c: Column) = when(c === 0, lit(null)).otherwise(c)
    val isT = col(groupCol) === treat
    val isC = col(groupCol) === control
    def cell(pred: Column, as: String): Seq[Column] = Seq(
      count(when(pred, lit(1))).as(s"n_$as"),
      round(sum(when(pred, money(valueCol))).cast("double") /
        nz(count(when(pred, lit(1)))), 4).as(s"mean_$as"))
    val cells = cell(isT && !postPred, "treat_pre") ++
      cell(isT && postPred, "treat_post") ++
      cell(isC && !postPred, "ctrl_pre") ++
      cell(isC && postPred, "ctrl_post")
    val agg = events.filter(isT || isC).agg(cells.head, cells.tail: _*)
    agg.select(col("*"),
      ((col("mean_treat_post") - col("mean_treat_pre")) -
        (col("mean_ctrl_post") - col("mean_ctrl_pre"))).as("did_estimate"))
  }

  /** A/B experiment POWER panel — the design-time companion of
    * [[abtestReadout]]'s verdict: for a grid of relative MDEs
    * (minimum detectable effects), the required per-arm sample size
    * at α=0.05 / power=0.8 (two-proportion z, the readout's own
    * test) against what the assignment actually has — so "can this
    * experiment even detect a 5% lift" is answered BEFORE burning
    * weeks on an underpowered test.
    * `n = (z_{α/2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))/(p₂−p₁)²` with the
    * control rate p₁ measured from arm A and p₂ = p₁·(1+mde).
    *
    * One distinct-user aggregation pass (the readout's shape) → a
    * 1-row panel × the literal MDE grid. z-quantile constants are
    * PARSED LITERALS (the Benford rule: libm erfinv differs across
    * engines, number literals do not). Unreachable targets (p₂ ≥ 1)
    * and degenerate arms yield NULL, not errors.
    */
  def abtestPower(events: DataFrame, variantCol: String, a: String, b: String,
                  convPred: Column,
                  mdes: Seq[Double] = Seq(0.02, 0.05, 0.10, 0.20, 0.50)): DataFrame = {
    val zSum = 1.959963984540054 + 0.8416212335729143 // z_{0.025} + z_{0.2}
    val zSum2 = zSum * zSum
    val isA = col(variantCol) === a
    val isB = col(variantCol) === b
    def nz(c: Column) = when(c === 0, lit(null)).otherwise(c)
    val agg = events.filter(col("user_id").isNotNull).agg(
      countDistinct(when(isA, col("user_id"))).as("n_a"),
      countDistinct(when(isB, col("user_id"))).as("n_b"),
      countDistinct(when(isA && convPred, col("user_id"))).as("conv_a"))
    val p1 = col("conv_a") / nz(col("n_a"))
    val p2 = col("p_control") * (lit(1.0) + col("mde_rel"))
    agg.select(col("n_a"), col("n_b"), p1.as("p_control"),
        explode(typedlit(mdes)).as("mde_rel"))
      .withColumn("p_target",
        when(col("p_control").isNotNull && p2 < 1.0, p2))
      .withColumn("required_n_per_arm",
        when(col("p_target").isNotNull && col("p_target") =!= col("p_control"),
          ceil(lit(zSum2) *
            (col("p_control") * (lit(1.0) - col("p_control"))
              + col("p_target") * (lit(1.0) - col("p_target")))
            / ((col("p_target") - col("p_control"))
              * (col("p_target") - col("p_control")))).cast("long")))
      .withColumn("available_n_per_arm", least(col("n_a"), col("n_b")))
      .withColumn("feasible",
        when(col("required_n_per_arm").isNotNull,
          col("available_n_per_arm") >= col("required_n_per_arm")))
      .select(col("mde_rel"), col("p_control"), col("p_target"),
        col("required_n_per_arm"), col("available_n_per_arm"), col("feasible"))
  }

  /** Daily new-vs-returning user split: a user counts as NEW on their
    * first observed day and RETURNING on every later active day.
    * Shape: the (day, user) distinct, a user-keyed first-seen
    * aggregate, a user-keyed exchange feeding the join (the distinct
    * partitions on BOTH columns, so the user-only join re-keys that
    * relation once), then one day-keyed distinct aggregation — three
    * user-day-sized exchanges total, none event-sized beyond the
    * first.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val ud = events.filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("d")).as("first_seen"))
    ud.join(first, "user_id")
      .groupBy(col("d").as("day"))
      .agg(
        countDistinct(when(col("d") === col("first_seen"), col("user_id"))).as("n_new"),
        countDistinct(when(col("d") =!= col("first_seen"), col("user_id"))).as("n_returning"))
  }

  /** Cumulative registered-user (adoption) curve: per first-seen day,
    * the number of users first observed that day plus the running
    * total of all users seen so far. ONE user-keyed min aggregate
    * collapses the fact to |users| rows, a day-keyed count collapses
    * those to the ≤ #days panel, and only the panel rides the global
    * running-sum window (the day-panel window convention — the
    * data-sized analogue is [[graft.operators.PrefixSum.globalOrdered]]).
    * Days with no first sighting don't appear; pair with the gap-fill
    * operator to regularize the grid.
    */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstSeen = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Exponentially-weighted moving average of the daily demand series
    * (Holt's level-only smoother): s_1 = x_1, s_t = α·x_t + (1−α)·
    * s_{t−1} with α = 0.25. The recurrence is order-dependent, so it
    * cannot ride a distributive window aggregate; instead the fact
    * collapses to the ≤#days panel in one partial-agg shuffle, the
    * panel collapses to ONE ordered array (the PCA-panel convention —
    * days, not rows), and the fold runs inside a single `aggregate`
    * higher-order function in codegen. At 100 TB the fact scan
    * dominates; the fold is metadata-sized.
    *
    * Engine parity by construction: α = 0.25 and 1−α = 0.75 are exact
    * dyadics, so every step is two correctly-rounded IEEE ops on
    * bit-identical inputs — no exp/pow, no quantization needed; the
    * DuckDB twin replays the same recurrence as a recursive CTE.
    */
  def ewmaDemand(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("daily_value"))
    val packed = byDay.agg(array_sort(
      collect_list(struct(col("date_sk"), col("daily_value")))).as("days"))
    val folded = packed.select(explode(aggregate(
      col("days"),
      lit(null).cast("array<struct<date_sk:int,daily_value:double,ewma:double>>"),
      (acc, e) => {
        val s = when(coalesce(size(acc), lit(0)) === 0, e.getField("daily_value"))
          .otherwise(lit(0.25) * e.getField("daily_value") +
            lit(0.75) * element_at(acc, -1).getField("ewma"))
        val row = struct(e.getField("date_sk").as("date_sk"),
          e.getField("daily_value").as("daily_value"), s.as("ewma"))
        when(acc.isNull, array(row)).otherwise(concat(acc, array(row)))
      })).as("r"))
    folded.select(col("r.date_sk").as("date_sk"),
      col("r.daily_value").as("daily_value"), col("r.ewma").as("ewma"))
  }

  /** Holt's linear-trend smoother over the daily demand series — the
    * two-state extension of [[ewmaDemand]] (whose single state LAGS a
    * trending series by a constant offset forever; Holt's coupled
    * level+trend recurrence tracks it):
    * `level_t = α·y_t + (1−α)·(level_{t−1} + trend_{t−1})`,
    * `trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}`,
    * seeded `level_1 = y_1, trend_1 = 0`. One-step-ahead forecast
    * `level + trend` rides along.
    *
    * Same execution shape as the EWMA: the fact collapses to the day
    * panel in one partial-agg shuffle, the inherently sequential
    * recurrence folds ONCE over the collected fixed-size panel inside
    * a single codegen'd `aggregate` — no per-row driver loop, no
    * O(days) self-joins. Dyadic α=0.25, β=0.125: every coefficient
    * product is an exact IEEE scaling, so the fold and the oracle's
    * recursive CTE replay bit-identically in fixed op order.
    */
  def holtDemand(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("daily_value"))
    val packed = byDay.agg(array_sort(
      collect_list(struct(col("date_sk"), col("daily_value")))).as("days"))
    val accT = "array<struct<date_sk:int,daily_value:double,level:double,trend:double>>"
    val folded = packed.select(explode(aggregate(
      col("days"),
      lit(null).cast(accT),
      (acc, e) => {
        val y = e.getField("daily_value")
        val prev = element_at(acc, -1)
        val lvl = when(coalesce(size(acc), lit(0)) === 0, y)
          .otherwise(lit(0.25) * y +
            lit(0.75) * (prev.getField("level") + prev.getField("trend")))
        val trd = when(coalesce(size(acc), lit(0)) === 0, lit(0.0))
          .otherwise(lit(0.125) * (lvl - prev.getField("level")) +
            lit(0.875) * prev.getField("trend"))
        val row = struct(e.getField("date_sk").as("date_sk"),
          y.as("daily_value"), lvl.as("level"), trd.as("trend"))
        when(acc.isNull, array(row)).otherwise(concat(acc, array(row)))
      })).as("r"))
    folded.select(col("r.date_sk").as("date_sk"),
      col("r.daily_value").as("daily_value"),
      col("r.level").as("level"), col("r.trend").as("trend"),
      (col("r.level") + col("r.trend")).as("forecast_next"))
  }

  /** Holt–Winters ADDITIVE triple smoothing (level + trend + weekly
    * seasonal, m = 7) — the tier above [[holtDemand]]: where Holt
    * chases the weekend dip as a trend change every single week, the
    * seasonal state absorbs it and the trend tracks actual growth.
    * Recurrence (all coefficients DYADIC — α=0.25, β=0.125, γ=0.25 —
    * so every product is an exact IEEE scaling):
    *   level_t = α·(y_t − s_{t−7}) + (1−α)·(level + trend)
    *   trend_t = β·(level_t − level) + (1−β)·trend
    *   s_t     = γ·(y_t − level_t) + (1−γ)·s_{t−7}
    *   forecast_next = level_t + trend_t + s_{t−6}
    * Seasonal slots start at 0 (the first cycle is pure Holt, the
    * pattern is learned from cycle two on); day 1 initializes
    * level = y, trend = 0.
    *
    * Same execution as the smoothing family: ONE partial-agg shuffle
    * collapses the fact to the day panel, the recurrence is a single
    * codegen'd `aggregate` fold over the collected panel (s_{t−7} is
    * read from the fold's own history — no extra state vector), and
    * the DuckDB oracle replays it as a recursive CTE carrying the
    * last seven seasonals as a LIST column — identical op order,
    * hash-comparable bits.
    */
  def holtWinters(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("daily_value"))
    val packed = byDay.agg(array_sort(
      collect_list(struct(col("date_sk"), col("daily_value")))).as("days"))
    val accT = "array<struct<date_sk:int,daily_value:double,level:double," +
      "trend:double,seasonal:double,forecast_next:double>>"
    val folded = packed.select(explode(aggregate(
      col("days"),
      lit(null).cast(accT),
      (acc, e) => {
        val y = e.getField("daily_value")
        val prev = element_at(acc, -1)
        val hist = coalesce(size(acc), lit(0))
        val sprev = when(hist >= 7,
          element_at(acc, -7).getField("seasonal")).otherwise(lit(0.0))
        val snext = when(hist >= 6,
          element_at(acc, -6).getField("seasonal")).otherwise(lit(0.0))
        val lvl = when(hist === 0, y)
          .otherwise(lit(0.25) * (y - sprev) +
            lit(0.75) * (prev.getField("level") + prev.getField("trend")))
        val trd = when(hist === 0, lit(0.0))
          .otherwise(lit(0.125) * (lvl - prev.getField("level")) +
            lit(0.875) * prev.getField("trend"))
        val seas = when(hist === 0, lit(0.0))
          .otherwise(lit(0.25) * (y - lvl) + lit(0.75) * sprev)
        val row = struct(e.getField("date_sk").as("date_sk"),
          y.as("daily_value"), lvl.as("level"), trd.as("trend"),
          seas.as("seasonal"), (lvl + trd + snext).as("forecast_next"))
        when(acc.isNull, array(row)).otherwise(concat(acc, array(row)))
      })).as("r"))
    folded.select(col("r.date_sk").as("date_sk"),
      col("r.daily_value").as("daily_value"),
      col("r.level").as("level"), col("r.trend").as("trend"),
      col("r.seasonal").as("seasonal"),
      col("r.forecast_next").as("forecast_next"))
  }

  /** One-step evaluation of the SHIPPED forecast models — Holt
    * (level+trend) and Holt–Winters (level+trend+seasonal) — against
    * the next observed day's actual: n evaluated, MAE, MAPE, signed
    * bias per model. Pairs with [[forecastBacktest]]'s naive
    * baselines to answer the only question that matters about a
    * forecasting tier: does the model BEAT the baseline it costs
    * more than. Each model's `forecast_next` is compared to the next
    * ROW of its own day panel (the recurrence's definition of
    * "next"), so gaps evaluate what the model actually predicted.
    *
    * Execution: both recurrences fold their shared day panel; the
    * next-day actual is a LEAD over the ≤#days panel (benign window
    * class). Engine parity: the error is full-entropy (model output)
    * — floor-grid quantized to 1e-6 before its DECIMAL(28,6)
    * partials (§5), one division per stat.
    */
  def forecastEvalModels(validEvents: DataFrame): DataFrame = {
    val w = Window.orderBy(col("date_sk"))
    val g6 = (c: Column) => floor(c * lit(1e6)) / lit(1e6)
    def evalModel(method: String, df: DataFrame): DataFrame = {
      val err = col("actual_next") - col("forecast_next")
      df.select(col("date_sk"), col("daily_value"), col("forecast_next"))
        .withColumn("actual_next", lead(col("daily_value"), 1).over(w))
        .filter(col("actual_next").isNotNull)
        .agg(count(lit(1)).as("n_eval"),
          (sum(graft.expressions.Kernels.toDecimal(g6(abs(err)), 28, 6))
            .cast("double") / count(lit(1))).as("mae"),
          (sum(graft.expressions.Kernels.toDecimal(g6(err), 28, 6))
            .cast("double") / count(lit(1))).as("bias"),
          (sum(when(col("actual_next") =!= 0,
              graft.expressions.Kernels.toDecimal(
                g6(abs(err) / col("actual_next")), 28, 6)))
            .cast("double")
            / sum(when(col("actual_next") =!= 0, 1L))).as("mape"))
        .select(lit(method).as("method"), col("n_eval"), col("mae"),
          col("bias"), col("mape"))
    }
    evalModel("holt_linear", holtDemand(validEvents))
      .unionByName(evalModel("holt_winters", holtWinters(validEvents)))
  }

  /** Gini coefficient of demand concentration across stops, per day
    * type — the one-number inequality audit next to [[paretoUsers]]'
    * full curve (is weekend demand more concentrated on few stops
    * than weekday?). Sorted-rank identity
    * `G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)` with x ascending:
    * one partial-agg shuffle collapses the fact to the per-(type,
    * stop) panel, one per-type window ranks it (stop cardinality is
    * physically bounded — a transit network's stop list — so the
    * per-type window frame stays small at any fact scale), one
    * aggregate finishes.
    *
    * Engine parity: xᵢ is the DECIMAL(18,2) money sum; `i·xᵢ`,
    * `Σ i·xᵢ`, and the numerator/denominator products are all exact
    * decimal/integer arithmetic — ties in x rank arbitrarily but
    * Σ i·xᵢ is invariant within a tied block, so the tie-break is
    * cosmetic — and the single terminal division is the only IEEE op.
    */
  def giniDemand(validEvents: DataFrame): DataFrame = {
    val perStop = validEvents
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("tipo_dia"), col("user_id").as("stop_code"))
      .agg(coalesce(round(sum(money(col("value"))), 2),
        lit(0).cast(DecimalType(18, 2))).as("x"))
    val ranked = perStop.withColumn("i",
      row_number().over(Window.partitionBy(col("tipo_dia"))
        .orderBy(col("x"), col("stop_code"))).cast("long"))
    ranked.groupBy(col("tipo_dia"))
      .agg(count(lit(1)).as("n_stops"),
        sum(col("x")).as("__total"),
        sum(col("i") * col("x")).as("__wsum"))
      .select(col("tipo_dia"), col("n_stops"),
        col("__total").cast("double").as("total_demand"),
        when(col("__total") > 0,
          (lit(2) * col("__wsum") - (col("n_stops") + 1) * col("__total"))
            .cast("double") /
            (col("n_stops") * col("__total")).cast("double"))
          .as("gini"))
  }

  /** Theil–Sen robust trend over the daily demand series, per event
    * type — the median of all pairwise slopes. Where [[trendSlope]]'s
    * OLS line chases a single corrupted day (one bad feed day drags
    * the fit), the pairwise-slope median shrugs off up to ~29% gross
    * outliers. O(days²) pairs by definition — but over the COLLAPSED
    * day panel (the fact table reduces in one partial-agg shuffle
    * first), so the quadratic term is bounded by the calendar, not
    * the data volume.
    *
    * Engine parity: each slope is one IEEE division of exact inputs,
    * §5 grid-quantized (floor·1e6) before ranking so cross-engine ULP
    * noise cannot reorder the median selection; the median of an even
    * pair count averages two quantized values (a single IEEE add +
    * divide). Pair identity (xₐ, x_b) breaks rank ties totally.
    */
  def theilSen(validEvents: DataFrame): DataFrame =
    theilSenBy(validEvents, "event_type_norm")

  /** [[theilSen]] over any grouping key — e.g. per stop (`user_id`),
    * where the per-key panel is small but the key panel is large: the
    * pair fan-out stays days² PER KEY and every window partitions by
    * the key, so a million stops parallelize; nothing global.
    */
  def theilSenBy(validEvents: DataFrame, keyCol: String): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col(keyCol), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
    val indexed = byDay.withColumn("x",
      (row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(col("date_sk"))) - 1).cast("long"))
    val slopes = indexed.as("a").join(indexed.as("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") &&
          col("a.x") < col("b.x"))
      .select(col(s"a.$keyCol").as(keyCol),
        col("a.x").as("xa"), col("b.x").as("xb"),
        (floor(((col("b.y") - col("a.y")) /
          (col("b.x") - col("a.x")).cast("double")) * 1e6) / 1e6).as("slope_q"))
    val w = Window.partitionBy(col(keyCol))
    val ranked = slopes
      .withColumn("rn", row_number().over(
        w.orderBy(col("slope_q"), col("xa"), col("xb"))))
      .withColumn("m", count(lit(1)).over(w))
    ranked
      .filter(col("rn") === floor((col("m") + 1) / lit(2.0)) ||
        col("rn") === floor((col("m") + 2) / lit(2.0)))
      .groupBy(col(keyCol))
      .agg(first(col("m")).as("n_pairs"),
        (sum(col("slope_q")) / count(lit(1))).as("ts_slope"))
  }

  /** Churn survival curve (Kaplan–Meier discipline over the closed
    * observation window): treating each user's LAST active day as the
    * churn event, per day — how many churned, how many were still at
    * risk (last day ≥ d), the hazard `churned/at_risk`, and the
    * cumulative log-survival `Σ_{k≤d} ln(1−hazard_k)` (log space —
    * the survival product itself would need `exp`, whose last-ulp
    * behavior is libm-specific; a consumer exponentiates at display
    * time). The final observed day has hazard 1 (everyone still at
    * risk churns by construction — the closed window right-censors
    * nothing) where `ln(0)` is undefined: its log-survival is NULL.
    *
    * Scale shape: one fact-sized partial agg to the per-user last-day
    * panel, one more to the day panel; both windows (suffix at-risk
    * count, cumulative log) run over the ≤#days panel. Engine parity:
    * counts exact, hazard one IEEE division, `ln` grid-quantized
    * (§5), the cumulative sum accumulated as exact DECIMAL(28,6) over
    * grid points (a raw double running sum would depend on the
    * engine's window summation) and cast once at the edge.
    */
  def survivalCurve(events: DataFrame): DataFrame = {
    val lastDay = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id")).agg(max(to_date(col("ts"))).as("last_day"))
    val churn = lastDay.groupBy(col("last_day"))
      .agg(count(lit(1)).as("n_churned"))
    val wRisk = Window.orderBy(col("last_day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.orderBy(col("last_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    churn
      .withColumn("n_at_risk", sum(col("n_churned")).over(wRisk))
      .withColumn("hazard",
        col("n_churned").cast("double") / col("n_at_risk").cast("double"))
      .withColumn("__l1m", when(col("n_churned") < col("n_at_risk"),
        floor(log(lit(1.0) - col("hazard")) * lit(1e6)) / lit(1e6)))
      .withColumn("log_survival", when(col("n_churned") < col("n_at_risk"),
        sum(col("__l1m").cast(DecimalType(28, 6))).over(wSurv).cast("double")))
      // Nelson–Aalen cumulative hazard H(t) = Σ d_i/n_i — the
      // estimator that stays FINITE at the last event time where the
      // KM log-survival hits −∞ (d = n); same grid-decimal running
      // sum, no log at all.
      .withColumn("cum_hazard",
        sum((floor(col("hazard") * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).over(wSurv).cast("double"))
      .select(col("last_day"), col("n_churned"), col("n_at_risk"),
        col("hazard"), col("log_survival"), col("cum_hazard"))
  }

  /** Market-basket association rules over order baskets: for every
    * unordered item pair (canonical a < b), joint and marginal basket
    * counts plus the three classic rule metrics — support `n_ab/N`,
    * confidence `n_ab/n_a`, lift `n_ab·N/(n_a·n_b)` (> 1 = the pair
    * co-occurs above independence). The co-occurrence primitive
    * behind "frequently bought together".
    *
    * Scale shape: baskets dedup in one (order, item) partial agg; the
    * pair expansion is a self-join WITHIN basket keys (fan-out
    * bounded by basket size², never corpus²); marginals and the
    * basket total come from the collapsed panels. Counts exact, each
    * metric one IEEE division (lift's integer products stay in longs).
    */
  def marketBasket(baskets: DataFrame, basketCol: String, itemCol: String,
                   minPairCount: Long = 2): DataFrame = {
    // hash(bk) BEFORE the distinct (r16, guide §2.4): HashPartitioning
    // on bk alone satisfies the (bk, item) distinct's clustered
    // distribution AND both sides of the basket-keyed self-join below,
    // so the checkpoint's preserved partitioning makes the pair build
    // exchange-free (measured: the old hash(bk,item) layout re-shuffled
    // BOTH self-join sides — two identical ~6 MB map stages).
    // distinct FIRST (baskets collapse hard map-side — unlike the
    // recsys interactions, dup (bk, item) rows are the common case
    // here, so the partial aggregate pays for itself), THEN one
    // pinned hash(bk) exchange of the already-distinct rows so the
    // checkpoint stamp co-partitions both self-join sides
    // (REPARTITION_BY_NUM — an AQE-coalesced stamp satisfies
    // single-child requirements but cannot co-partition a join, which
    // re-exchanged both sides; measured two identical ~6 MB map
    // stages). Net exchanges: distinct partials + one distinct-sized
    // re-key, versus distinct + BOTH join sides before.
    val items = baskets
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
      .repartition(baskets.sparkSession.sessionState.conf.numShufflePartitions,
        col("bk"))
      .ckptPartitioned()
    val nBaskets = items.select(col("bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = items.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    // basket-keyed self-join: shuffled-hash (the posting-join
    // steering) — the checkpointed relation carries no stats and
    // would otherwise default to an unjustified sort-merge
    val pairs = items.as("a").join(items.as("b").hint("shuffle_hash"),
        col("a.bk") === col("b.bk") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(marg.select(col("item").as("item_a"), col("n_i").as("n_a"))
        .hint("shuffle_hash"), "item_a")
      .join(marg.select(col("item").as("item_b"), col("n_i").as("n_b"))
        .hint("shuffle_hash"), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        (col("n_ab").cast("double") / col("n_baskets").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_ab") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Top event-type 3-step paths — sequence mining over per-user
    * event streams ([[transitionMatrix]]'s first-order view extended
    * one hop): sliding windows of three consecutive events per user,
    * counted corpus-wide with the distinct-user reach, top-N under a
    * total order. Integer-exact end to end.
    *
    * The lead-window runs per user (frames bounded by a user's own
    * event count — the same shape the sessionizers already plan);
    * everything after is one partial-agg shuffle on the path triple
    * and a TakeOrdered.
    */
  def topPaths(events: DataFrame, topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(topN)
  }

  /** Rolling 7-day distinct active users per observed day (the WAU
    * curve next to [[rollingDemand]]'s additive sums) — COUNT
    * DISTINCT over a sliding window cannot be pre-aggregated, so the
    * scale shape matters: each distinct (day, user) observation
    * expands to the ≤ 7 grid days it covers (a `sequence`+`explode`
    * inside codegen — never a range join), the grid is semi-joined to
    * observed days (broadcast — the day dim is tiny by construction),
    * and ONE exact-distinct aggregation keyed by grid day produces
    * both the day's own active count and its trailing-7-day count.
    * Shuffle volume is 7·|user-days|, independent of raw event count
    * (the (day, user) dedup is the only event-sized exchange).
    */
  def rollingActiveUsers(events: DataFrame): DataFrame = {
    val ud = events.filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val days = ud.select(col("d").as("g")).distinct()
    ud.select(col("user_id"), col("d"),
        explode(sequence(col("d"), date_add(col("d"), 6),
          expr("interval 1 day"))).as("g"))
      .join(broadcast(days), "g")
      .groupBy(col("g").as("day"))
      .agg(
        countDistinct(when(col("d") === col("g"), col("user_id"))).as("n_users_day"),
        countDistinct(col("user_id")).as("n_users_7d"))
  }

  /** DAU/WAU/MAU STICKINESS — the product-health ratio panel over
    * [[rollingActiveUsers]]'s window-expansion technique widened to
    * 28 days: per day, daily / 7-day / 28-day distinct actives and
    * the DAU/MAU ratio ("what share of the monthly audience shows up
    * on a given day"). Each (user, day) pair fans out to the ≤ 28
    * future days its activity keeps alive — fan-out is bounded by
    * the window length, the aggregation is the standard two-phase
    * distinct, and no day ever rescans history. Ratios ship as raw
    * IEEE quotients of exact longs.
    */
  def stickinessPanel(events: DataFrame): DataFrame = {
    val ud = events.filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val days = ud.select(col("d").as("g")).distinct()
    ud.select(col("user_id"), col("d"),
        explode(sequence(col("d"), date_add(col("d"), 27),
          expr("interval 1 day"))).as("g"))
      .join(broadcast(days), "g")
      .groupBy(col("g").as("day"))
      .agg(
        countDistinct(when(col("d") === col("g"), col("user_id"))).as("dau"),
        countDistinct(when(col("d") >= date_sub(col("g"), 6), col("user_id")))
          .as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .withColumn("stickiness",
        col("dau").cast("double") / col("mau").cast("double"))
  }

  /** Peak concurrency over closed intervals — "how many sessions were
    * open at the busiest instant, and when was it": the classic
    * sweep-line (+1 at start, −1 after end, running sum, argmax),
    * the capacity-planning number a session table exists to answer.
    * Closed-interval semantics: at a shared instant starts order
    * before ends, so a session ending at T and one starting at T
    * count as overlapping.
    *
    * Scale shape: the 2-per-interval sweep expansion happens inside
    * codegen (array+explode), the running sum is the DISTRIBUTED
    * two-phase prefix sum over the (ts, delta desc, id…) total order
    * — never a single-partition global window over 2·|sessions| rows
    * — and the argmax is one struct-max aggregate (peak, then the
    * EARLIEST attaining instant; only +1 rows can attain the peak,
    * so both engines argmax over identical candidates). Deltas are
    * exact longs: order-free offset reduction.
    */
  /** Walk-forward one-step forecast BACKTEST of the two standard
    * baselines — persistence ("tomorrow = today", lag-1) and
    * seasonal-naive ("tomorrow = same weekday last week", lag-7) —
    * per event type: n evaluated days, MAE, MAPE and signed bias.
    * The evaluation tier of the smoothing/forecast family (the
    * recall-panel discipline applied to forecasting): any model the
    * lake ships (EWMA, Holt, seasonal) must BEAT these numbers, and
    * the panel makes "does it" a standing measurement instead of a
    * guess.
    *
    * Lags are CALENDAR joins on (type, date−1 / date−7), not row
    * offsets — a gap day yields no forecast rather than silently
    * borrowing the wrong day. Scale shape: the fact collapses to the
    * (type, day) panel in one partial-agg shuffle (the F6 shape);
    * lag joins and aggregates run on the panel. Engine parity:
    * demand and errors are 2dp money (exact DECIMAL partials, one
    * division); the MAPE quotient is full-entropy — floor-grid to
    * 1e-6 before its DECIMAL(28,6) partials (§5), zero-demand days
    * excluded from MAPE only.
    */
  def forecastBacktest(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
      .withColumn("d", to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .localCheckpoint(false)
    def lagged(days: Int, name: String) = byDay.select(
      col("event_type_norm"), date_add(col("d"), days).as("d"), col("y").as(name))
    val joined = byDay
      .join(lagged(1, "f_lag1"), Seq("event_type_norm", "d"), "left")
      .join(lagged(7, "f_lag7"), Seq("event_type_norm", "d"), "left")
    val long = joined.select(col("event_type_norm"), col("y"),
        explode(array(
          struct(lit("naive_lag1").as("method"), col("f_lag1").as("f")),
          struct(lit("seasonal_lag7").as("method"), col("f_lag7").as("f")))).as("m"))
      .select(col("event_type_norm"), col("m.method").as("method"),
        col("y"), col("m.f").as("f"))
      .filter(col("f").isNotNull)
    val err = col("y") - col("f")
    val g6 = (c: Column) => floor(c * lit(1e6)) / lit(1e6)
    long.groupBy(col("event_type_norm"), col("method"))
      .agg(count(lit(1)).as("n_eval"),
        (sum(money(abs(err))).cast("double") / count(lit(1))).as("mae"),
        (sum(money(err)).cast("double") / count(lit(1))).as("bias"),
        (sum(when(col("y") =!= 0,
            graft.expressions.Kernels.toDecimal(g6(abs(err) / col("y")), 28, 6)))
          .cast("double")
          / sum(when(col("y") =!= 0, 1L))).as("mape"))
  }

  /** Autocorrelation panel (ACF lags 1..`maxLag`) of the per-type
    * daily series — the diagnostic the forecast family stands on:
    * which lags carry signal (a lag-7 spike ⇒ weekly seasonality ⇒
    * the seasonal-naive/Holt-Winters tier is worth its state), and
    * when a residual series is white noise.
    * `r_k = Σ_t (y_t−ȳ)(y_{t+k}−ȳ) / Σ_t (y_t−ȳ)²` with CALENDAR
    * lags (a gap day contributes no pair, the backtest discipline).
    *
    * Scale shape: one fact-sized partial agg to the (type, day)
    * panel; the per-type mean is a tiny broadcast panel; lag pairs
    * come from one panel self-join on (type, d+k) with the lag grid
    * exploded on the probe side. Engine parity: ȳ follows the house
    * money-mean convention (4dp round); deviation products and
    * squares floor-quantize to 1e-6 (§5) before exact DECIMAL(28,6)
    * partials; the single ACF division happens once at the edge.
    */
  def autocorrelation(validEvents: DataFrame, maxLag: Int = 7): DataFrame =
    acfFromByDay(byDayPanel(validEvents), maxLag)

  /** The shared (type, day, y) collapse of the serving fact — the one
    * fact-sized pass every daily-series statistic starts from; lazy
    * checkpoint so callers composing several panels over it (ACF +
    * day counts, signs + medians) materialize it exactly once.
    */
  private[graft] def byDayPanel(validEvents: DataFrame): DataFrame =
    validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
      .withColumn("d", to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .localCheckpoint(false)

  private def acfFromByDay(byDay: DataFrame, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxLag >= 1, s"need at least lag 1: $maxLag")
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val meanPanel = byDay.groupBy(col("event_type_norm"))
      .agg(round(sum(money(col("y"))).cast("double") / count(lit(1)), 4).as("ybar"))
    val dev = byDay.join(broadcast(meanPanel), Seq("event_type_norm"))
      .select(col("event_type_norm"), col("d"),
        (col("y") - col("ybar")).as("dev"))
      .localCheckpoint(false)
    val den = dev.groupBy(col("event_type_norm"))
      .agg(dec6ToDouble(sum(q6(col("dev") * col("dev")).cast(DecimalType(28, 6))))
        .as("den"))
    val lagGrid = array((1 to maxLag).map(lit): _*)
    val probes = dev
      .withColumn("lag", explode(lagGrid))
      .select(col("event_type_norm"), col("lag"),
        expr("date_add(d, lag)").as("d"), col("dev").as("dev_t"))
    val num = probes
      .join(dev.withColumnRenamed("dev", "dev_tk"), Seq("event_type_norm", "d"))
      .groupBy(col("event_type_norm"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        dec6ToDouble(sum(q6(col("dev_t") * col("dev_tk")).cast(DecimalType(28, 6))))
          .as("num"))
    num.join(broadcast(den), Seq("event_type_norm"))
      .select(col("event_type_norm"), col("lag"), col("n_pairs"),
        when(col("den") =!= 0, col("num") / col("den")).as("acf"))
  }

  /** Ljung–Box portmanteau whiteness test over [[autocorrelation]]'s
    * panel — the formal verdict the ACF diagnostic only eyeballs: is
    * the per-type daily series (or a model's residual series)
    * distinguishable from white noise across the first `maxLag`
    * autocorrelations jointly? `Q = n(n+2)·Σ_k r_k²/(n−k)`, compared
    * to a χ² with `maxLag` dof.
    *
    * `maxLag` must be EVEN: the χ²_{2m} survival then has the exact
    * finite Poisson-sum form `P(χ² > Q) = e^{−Q/2}·Σ_{j<m} (Q/2)^j/j!`
    * — pure fixed-order arithmetic + one exp, replayable by a SQL
    * engine without a gamma function (the odd-dof tail needs erf AND
    * the half-integer gamma series; the even grid loses nothing for a
    * lag-order sweep). Panels missing any of the `maxLag` lags (series
    * shorter than the lag span) emit NULL verdicts, never a partial Q.
    *
    * Scale shape: everything after the ACF panel is ≤ types×lags
    * panel math; the §5 discipline grids each r²/(n−k) term to 1e-12
    * before its exact DECIMAL(28,12) sum, and the p-value's
    * `exp`-bearing expression floor-grids to 1e-6 (the abtest erfc
    * convention) so a last-ulp libm disagreement cannot flip a hash.
    */
  def ljungBox(validEvents: DataFrame, maxLag: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxLag >= 2 && maxLag % 2 == 0,
      s"maxLag must be even for the closed-form chi2 tail: $maxLag")
    def q12(c: Column) = floor(c * lit(1e12)) / lit(1e12)
    // ONE fact collapse feeds both the ACF panel and the day counts
    val byDay = byDayPanel(validEvents)
    val acf = acfFromByDay(byDay, maxLag)
    val nPanel = byDay.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_days"))
    // n_days > lag guards the r^2/(n-k) term: a gappy 3-day series can
    // carry a non-NULL lag-3 ACF, where the raw term divides by zero
    // (and DuckDB's inf would abort the decimal cast); such lags drop
    // and the incomplete panel then reports NULL verdicts below
    val agg = acf.join(broadcast(nPanel), Seq("event_type_norm"))
      .filter(col("acf").isNotNull && col("n_days") > col("lag"))
      .groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("__nl"),
        sum(q12(col("acf") * col("acf")
            / (col("n_days") - col("lag")).cast("double"))
          .cast(DecimalType(28, 12))).as("__s"))
    val qStat = col("n_days").cast("double") *
      (col("n_days") + 2).cast("double") * col("__s").cast("double")
    // LEFT join from the day panel: a constant (zero-variance) series
    // keeps its row with NULL verdicts instead of silently vanishing
    nPanel.join(agg, Seq("event_type_norm"), "left")
      .select(col("event_type_norm"), col("n_days"),
        coalesce(col("__nl"), lit(0L)).as("n_lags"),
        when(coalesce(col("__nl"), lit(0L)) === maxLag, qStat).as("q_stat"),
        lit(maxLag).cast("long").as("dof"))
      .withColumn("p_value", chi2EvenTailP(col("q_stat"), maxLag / 2))
      .withColumn("white_noise", col("p_value") > 0.05)
  }

  /** Wald–Wolfowitz RUNS test on the per-type daily series — the
    * randomness screen orthogonal to [[ljungBox]]'s linear-correlation
    * view: dichotomize each day as above/below the series' exact
    * median (ties at the interpolated median drop, the classic rule),
    * count the runs of equal signs, and compare to the exact run-count
    * moments under exchangeability: `μ = 2·n₁n₂/(n₁+n₂) + 1`,
    * `σ² = (μ−1)(μ−2)/(n₁+n₂−1)`, two-sided normal p via the A&S
    * Horner erfc (gridded per §5). Too few runs ⇒ trending/clustered;
    * too many ⇒ oscillating.
    *
    * Scale shape: the fact collapses once to the calendar-bounded
    * (type, day) panel; the median comes from the exact-quantile rank
    * brackets; the lag window partitions per type over panel rows.
    * All counts exact integers; z and p are fixed-order IEEE at the
    * panel edge.
    */
  def runsTest(validEvents: DataFrame): DataFrame = {
    val byDay = byDayPanel(validEvents)
    val med = Profiling.exactQuantilesBy(
        byDay.select(col("event_type_norm"), col("y")),
        Seq("event_type_norm"), "y", Seq(0.5))
      .select(col("event_type_norm"), col("value").as("med"))
    val signed = byDay.join(broadcast(med), Seq("event_type_norm"))
      .filter(col("y") =!= col("med"))
      .select(col("event_type_norm"), col("d"),
        (col("y") > col("med")).as("up"))
    val w = Window.partitionBy(col("event_type_norm")).orderBy(col("d"))
    val runs = signed
      .withColumn("__new_run",
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
      .groupBy(col("event_type_norm"))
      .agg(sum(when(col("up"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("up"), 0L).otherwise(1L)).as("n_below"),
        sum(col("__new_run")).as("n_runs"))
    val n = (col("n_above") + col("n_below")).cast("double")
    val mu = lit(2.0) * col("n_above").cast("double") *
      col("n_below").cast("double") / n + lit(1.0)
    val variance = (mu - lit(1.0)) * (mu - lit(2.0)) / (n - lit(1.0))
    val z = (col("n_runs").cast("double") - mu) / sqrt(variance)
    runs.select(col("event_type_norm"), col("n_above"), col("n_below"),
        col("n_runs"), mu.as("expected_runs"),
        when(col("n_above") > 0 && col("n_below") > 0 && variance > 0, z)
          .as("z_score"))
      .withColumn("p_value", normTwoSidedP(col("z_score")))
      .withColumn("random_5pct", col("p_value") > 0.05)
  }

  /** Mann–Kendall trend test on the per-type daily series — the
    * nonparametric SIGNIFICANCE verdict the Theil–Sen estimator
    * (`ana_theil_sen`) pairs with: `S = Σ_{i<j} sign(y_j − y_i)`
    * over all day pairs, tie-corrected variance
    * `var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18`, the
    * continuity-corrected z, and the A&S Horner erfc two-sided p.
    * Monotone-trend detection with no distributional assumption and
    * no linearity assumption — the classic screen before fitting any
    * slope.
    *
    * Scale shape: the fact collapses once to the calendar-bounded
    * (type, day) panel; the pair sum is the panel² BROADCAST
    * self-join (the kendallTauB precedent — days², not data², rows);
    * ties collapse to a per-value panel. S, n and every tie term are
    * exact integers; the /18, z and p are fixed-order IEEE at the
    * 1-row-per-type edge.
    */
  def mannKendall(validEvents: DataFrame): DataFrame = {
    val byDay = byDayPanel(validEvents)
    val other = byDay.select(col("event_type_norm"),
      col("d").as("d2"), col("y").as("y2"))
    val sPanel = byDay.as("a").join(broadcast(other.as("b")),
        col("a.event_type_norm") === col("b.event_type_norm") &&
          col("d") < col("d2"))
      .drop(col("b.event_type_norm"))
      .groupBy(col("event_type_norm"))
      .agg(sum(when(col("y2") > col("y"), 1L)
        .when(col("y2") < col("y"), -1L).otherwise(0L)).as("s_stat"))
    val nPanel = byDay.groupBy(col("event_type_norm"))
      .agg(count(lit(1)).as("n_days"))
    val tiePanel = byDay.groupBy(col("event_type_norm"), col("y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type_norm"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2L) * col("__t") + 5))
        .as("__tie_term"))
    val n = col("n_days")
    val varS = ((n * (n - 1) * (lit(2L) * n + 5) - col("__tie_term"))
      .cast("double") / lit(18.0)).as("var_s")
    // LEFT join from nPanel (the keep-row-with-NULL-verdicts
    // convention ljungBox and the trimmed mean follow): a 1-day type
    // has no d<d2 pair so sPanel is empty for it — it must still
    // surface, with NULL s_stat/z/p/trend
    val joined = nPanel
      .join(broadcast(sPanel), Seq("event_type_norm"), "left")
      .join(broadcast(tiePanel), Seq("event_type_norm"), "left")
      .select(col("event_type_norm"), col("n_days"), col("s_stat"), varS)
    val z = when(col("var_s") > 0,
      when(col("s_stat") > 0,
        (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
        .when(col("s_stat") < 0,
          (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
        .otherwise(lit(0.0)))
    joined.withColumn("z_score", z)
      .withColumn("p_value", normTwoSidedP(col("z_score")))
      .withColumn("trend",
        when(col("p_value").isNull, lit(null).cast("string"))
          .when(col("p_value") <= 0.05 && col("s_stat") > 0, lit("increasing"))
          .when(col("p_value") <= 0.05 && col("s_stat") < 0, lit("decreasing"))
          .otherwise(lit("no_trend")))
  }

  /** Friedman blocked-rank test across day-of-week treatments — the
    * FORMAL seasonality verdict the descriptive `ana_dow_seasonality`
    * panel eyeballs, and the blocked-design cousin of Kruskal–Wallis
    * (each complete Monday-aligned week is a block, so week-to-week
    * level shifts cancel instead of inflating the between-day
    * variance): midranks 1..7 within each complete week,
    * `χ² = 12/(b·k(k+1))·Σ_j R_j² − 3b(k+1)` with the classic tie
    * correction `C = 1 − Σ(t³−t)/(b·k(k²−1))`, and k=7 ⇒ dof 6 EVEN —
    * the same exact Poisson-sum χ² tail as [[ljungBox]], no gamma
    * function. Incomplete weeks drop (Friedman requires complete
    * blocks); an all-tied panel (C = 0) yields NULL verdicts.
    *
    * Engine parity: day-of-week and week-start come from pure integer
    * day arithmetic against the 1970-01-05 Monday epoch (engine
    * date-part conventions differ; `datediff % 7` does not); midranks
    * are exact multiples of 0.5 and every sum stays far inside 2^53,
    * so double summation is order-free-exact without decimal partials.
    * Scale shape: the fact collapses once to the calendar-bounded
    * (type, day) panel; ranks ride per-(type, week) windows over ≤7
    * rows; everything after is ≤ types×7 panel math.
    */
  def friedmanDow(validEvents: DataFrame): DataFrame = {
    val byDay = byDayPanel(validEvents)
      .withColumn("dow", pmod(datediff(col("d"), lit("1970-01-05")), lit(7)))
      .withColumn("wk", date_sub(col("d"), col("dow")))
    val complete = byDay.groupBy(col("event_type_norm"), col("wk"))
      .agg(count(lit(1)).as("__nd")).filter(col("__nd") === 7)
      .select(col("event_type_norm"), col("wk"))
    val blocks = byDay.join(complete, Seq("event_type_norm", "wk"))
      .ckptPartitioned()
    val wRank = Window.partitionBy(col("event_type_norm"), col("wk"))
      .orderBy(col("y"))
    val wTie = Window.partitionBy(col("event_type_norm"), col("wk"), col("y"))
    val ranked = blocks
      .withColumn("__rmin", rank().over(wRank))
      .withColumn("__t", count(lit(1)).over(wTie))
      .withColumn("midrank", col("__rmin").cast("double")
        + (col("__t") - 1).cast("double") / lit(2.0))
    val rj = ranked.groupBy(col("event_type_norm"), col("dow"))
      .agg(sum(col("midrank")).as("__rj"))
      .groupBy(col("event_type_norm"))
      .agg(sum(col("__rj") * col("__rj")).as("__sum_r2"))
    // from the CHECKPOINTED blocks (complete's lineage would replay the
    // whole fact collapse a second time at run time)
    val bPanel = blocks.groupBy(col("event_type_norm"))
      .agg(countDistinct(col("wk")).as("n_blocks"))
    val ties = blocks.groupBy(col("event_type_norm"), col("wk"), col("y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type_norm"))
      .agg(sum(col("__t") * col("__t") * col("__t") - col("__t"))
        .as("__tie_sum"))
    val b = col("n_blocks").cast("double")
    val chi2f = lit(12.0) / (col("n_blocks") * lit(56L)).cast("double") *
      col("__sum_r2") - lit(3.0) * b * lit(8.0)
    val corr = lit(1.0) - col("__tie_sum").cast("double") /
      (col("n_blocks") * lit(336L)).cast("double")
    val joined = bPanel
      .join(broadcast(rj), Seq("event_type_norm"))
      .join(broadcast(ties), Seq("event_type_norm"))
      .select(col("event_type_norm"), col("n_blocks"),
        lit(7L).as("k_treatments"), chi2f.as("chi2_raw"),
        corr.as("tie_correction"))
      .withColumn("chi2_stat",
        when(col("tie_correction") > 0, col("chi2_raw") / col("tie_correction")))
      .withColumn("dof", lit(6L))
    joined
      .withColumn("p_value", chi2EvenTailP(col("chi2_stat"), 3))
      .withColumn("seasonal_5pct", col("p_value") <= 0.05)
  }

  /** Partial autocorrelation panel (PACF lags 1..`maxLag`) via the
    * Durbin–Levinson recursion over [[autocorrelation]]'s ACF panel —
    * the AR-order diagnostic the ACF cannot give (ACF of an AR(1)
    * decays forever; its PACF cuts off after lag 1, which is how the
    * lag order is actually chosen).
    *
    * Scale shape: the heavy work is the ACF panel (fact-collapsing,
    * distributed); the recursion runs on the COLLECTED ≤ types×lags
    * panel on the driver (the PCA gram-panel precedent — fixed-size
    * panel math, not data), in one fixed op order: sequential
    * left-to-right term sums, one division per level, so a SQL replay
    * of the same recursion is bit-identical. A missing or NULL ACF
    * lag (short series, zero variance) cascades NULL through every
    * later level — both engines propagate identically.
    */
  /** The Durbin–Levinson recursion over one type's ACF values —
    * returns the full φ triangle (φ(k)(j), NULL-propagating through
    * Options). Shared by [[pacf]] (needs the diagonal) and
    * [[arForecast]] (needs the last row φ(p)(1..p) — the Yule–Walker
    * AR coefficients).
    */
  private def durbinLevinson(rr: Int => Option[Double],
                             maxLag: Int): Array[Array[Option[Double]]] = {
    def seqSum(terms: Seq[Option[Double]]): Option[Double] =
      terms.foldLeft(Option(0.0))((acc, t) => for { a <- acc; x <- t } yield a + x)
    val phi = Array.fill(maxLag + 1, maxLag + 1)(Option.empty[Double])
    phi(1)(1) = rr(1)
    for (k <- 2 to maxLag) {
      val num = for {
        s <- seqSum((1 until k).map(j =>
          for { p <- phi(k - 1)(j); rv <- rr(k - j) } yield p * rv))
        rk <- rr(k)
      } yield rk - s
      val den = seqSum((1 until k).map(j =>
        for { p <- phi(k - 1)(j); rv <- rr(j) } yield p * rv))
        .map(1.0 - _)
      phi(k)(k) = for { n <- num; d <- den; if d != 0.0 } yield n / d
      for (j <- 1 until k)
        phi(k)(j) = for {
          a <- phi(k - 1)(j); kk <- phi(k)(k); b <- phi(k - 1)(k - j)
        } yield a - kk * b
    }
    phi
  }

  private def acfByType(validEvents: DataFrame, maxLag: Int)
      : Seq[(String, Int => Option[Double])] = {
    val panel = autocorrelation(validEvents, maxLag)
      .select(col("event_type_norm"), col("lag"), col("acf")).collect()
    panel.groupBy(_.getString(0)).toSeq.map { case (t, rs) =>
      val r: Map[Int, Option[Double]] = rs.map(x => x.getInt(1) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
      (t, (k: Int) => r.getOrElse(k, None))
    }
  }

  def pacf(validEvents: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need at least lag 1: $maxLag")
    val spark = validEvents.sparkSession
    val out = acfByType(validEvents, maxLag).flatMap { case (t, rr) =>
      val phi = durbinLevinson(rr, maxLag)
      (1 to maxLag).map(k => (t, k, rr(k), phi(k)(k)))
    }
    import spark.implicits._
    out.toDF("event_type_norm", "lag", "acf", "pacf")
  }

  /** AR(p) multi-step demand forecast — the autoregressive member of
    * the forecast family (naive/seasonal/Holt/Holt–Winters ship
    * already; AR is the one whose ORDER the PACF panel motivates):
    * Yule–Walker coefficients φ(p)(1..p) from the Durbin–Levinson
    * recursion over the ACF panel, then the textbook mean-centered
    * recursion `x̂(t+h) = ȳ + Σⱼ φⱼ·(x(t+h−j) − ȳ)` with observed
    * tail values for h−j ≤ 0 and earlier forecasts after — so the
    * h-step path reverts toward the mean at the rate the fitted
    * correlation structure implies.
    *
    * Scale shape: the fact collapses once to the per-type day panel
    * (the ACF pass); the driver sees only the ≤types×p ACF/tail
    * panels (the pacf discipline) and the recursion is panel math.
    * A missing tail day or an undefined coefficient propagates NULL
    * forecasts (Option-chained), never an error.
    */
  def arForecast(validEvents: DataFrame, p: Int = 3,
                 horizon: Int = 7): DataFrame = {
    require(p >= 1 && horizon >= 1, s"p=$p horizon=$horizon out of range")
    val spark = validEvents.sparkSession
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
      .withColumn("d", to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .localCheckpoint(false)
    val meanPanel = byDay.groupBy(col("event_type_norm"))
      .agg(round(sum(money(col("y"))).cast("double") / count(lit(1)), 4).as("ybar"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val maxPanel = byDay.groupBy(col("event_type_norm"))
      .agg(max(col("d")).as("d_max"))
    val tails = byDay.join(broadcast(maxPanel), Seq("event_type_norm"))
      .filter(col("d") >= date_sub(col("d_max"), p - 1))
      .select(col("event_type_norm"),
        datediff(col("d_max"), col("d")).as("back"), col("y"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        t -> rs.map(r => r.getInt(1) -> r.getDouble(2)).toMap }
    val out = acfByType(validEvents, p).flatMap { case (t, rr) =>
      // durbinLevinson handles p = 1 itself (phi(1)(1) = r1)
      val phi = durbinLevinson(rr, p)
      val phiRow: Int => Option[Double] = j => phi(p)(j)
      val ybar = meanPanel.get(t)
      val back = tails.getOrElse(t, Map.empty[Int, Double])
      // x(i): observed day d_max+i for i ≤ 0, earlier forecast for i ≥ 1
      val fc = Array.fill(horizon + 1)(Option.empty[Double])
      def x(i: Int): Option[Double] =
        if (i <= 0) back.get(-i) else fc(i)
      for (h <- 1 to horizon) {
        var s: Option[Double] = Some(0.0)
        for (j <- 1 to p)
          s = for { acc <- s; ph <- phiRow(j); xv <- x(h - j); yb <- ybar }
            yield acc + ph * (xv - yb)
        fc(h) = for { yb <- ybar; sv <- s } yield yb + sv
      }
      (1 to horizon).map(h => (t, h, fc(h)))
    }
    import spark.implicits._
    out.toDF("event_type_norm", "h", "forecast")
  }

  /** Split-conformal prediction intervals for the forecast family —
    * the distribution-free certification tier above
    * [[forecastBacktest]]: the walk-forward one-step absolute
    * residuals are the calibration scores, and the conformal quantile
    * `q̂` = the ⌈(n+1)(1−α)⌉-th smallest of them guarantees ≥ 1−α
    * coverage of `forecast ± q̂` under exchangeability — no normality
    * assumption, no libm quantile. α = 0.2 here, and the rank is
    * computed in EXACT integer arithmetic (`⌈8(n+1)/10⌉` via
    * `(8(n+1)+9) div 10`), so both engines select the identical
    * residual. Each (type, method) row also carries the next-day
    * point forecast (persistence: the last observed day; seasonal:
    * the day six back) and its certified interval; a calibration set
    * too small for the rank (rank > n) or a gap at the forecast
    * anchor yields NULLs, not errors.
    *
    * Scale shape: the fact collapses to the (type, day) panel once
    * (backtest spine, checkpointed); residual ranking windows
    * partition per (type, method) — panel-sized; the anchor joins are
    * panel-to-panel. Engine parity: residuals order as exact
    * DECIMAL(18,2) money values (double ties would be
    * engine-dependent), intervals are 2dp-double adds at the edge.
    */
  def forecastConformal(validEvents: DataFrame): DataFrame = {
    val byDay = validEvents.filter(col("date_sk").isNotNull)
      .groupBy(col("event_type_norm"), col("date_sk"))
      .agg(coalesce(round(sum(money(col("value"))), 2), lit(0))
        .cast("double").as("y"))
      .withColumn("d", to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .localCheckpoint(false)
    def lagged(days: Int, name: String) = byDay.select(
      col("event_type_norm"), date_add(col("d"), days).as("d"), col("y").as(name))
    val long = byDay
      .join(lagged(1, "f_lag1"), Seq("event_type_norm", "d"), "left")
      .join(lagged(7, "f_lag7"), Seq("event_type_norm", "d"), "left")
      .select(col("event_type_norm"), col("d"), col("y"),
        explode(array(
          struct(lit("naive_lag1").as("method"), col("f_lag1").as("f")),
          struct(lit("seasonal_lag7").as("method"), col("f_lag7").as("f")))).as("m"))
      .select(col("event_type_norm"), col("m.method").as("method"),
        col("d"), col("y"), col("m.f").as("f"))
      .filter(col("f").isNotNull)
    val w = Window.partitionBy(col("event_type_norm"), col("method"))
    val ranked = long
      .withColumn("abs_err_dec", money(abs(col("y") - col("f"))))
      .withColumn("rn", row_number().over(w.orderBy(col("abs_err_dec"), col("d"))))
      .withColumn("n_eval", count(lit(1)).over(w))
      .withColumn("conf_rank",
        expr("(8 * (n_eval + 1) + 9) div 10"))
    // keep (type, method) rows whose calibration set is too small for
    // the rank (conf_rank > n): NULL q_hat, not a vanished group
    val qSel = ranked.filter(col("rn") === col("conf_rank"))
      .select(col("event_type_norm"), col("method"),
        col("abs_err_dec").cast("double").as("q_hat"))
    val q = ranked.groupBy(col("event_type_norm"), col("method"))
      .agg(max(col("n_eval")).as("n_eval"), max(col("conf_rank")).as("conf_rank"))
      .join(qSel, Seq("event_type_norm", "method"), "left")
    val anchor = byDay.groupBy(col("event_type_norm")).agg(max(col("d")).as("last_d"))
    val fNext = anchor
      .join(byDay.select(col("event_type_norm"), col("d").as("last_d"),
        col("y").as("f_pers")), Seq("event_type_norm", "last_d"), "left")
      .join(byDay.select(col("event_type_norm"),
        date_add(col("d"), 6).as("last_d"), col("y").as("f_seas")),
        Seq("event_type_norm", "last_d"), "left")
      .select(col("event_type_norm"),
        explode(array(
          struct(lit("naive_lag1").as("method"), col("f_pers").as("f_next")),
          struct(lit("seasonal_lag7").as("method"), col("f_seas").as("f_next")))).as("m"))
      .select(col("event_type_norm"), col("m.method").as("method"),
        col("m.f_next").as("f_next"))
    q.join(fNext, Seq("event_type_norm", "method"), "left")
      .select(col("event_type_norm"), col("method"), col("n_eval"),
        col("conf_rank"), col("q_hat"), col("f_next"),
        (col("f_next") - col("q_hat")).as("lo"),
        (col("f_next") + col("q_hat")).as("hi"))
  }

  /** RFM customer segmentation — the classic warehouse marketing
    * analysis: per customer, Recency (days since their last order,
    * measured from the corpus's own last order date), Frequency
    * (order count) and Monetary (exact decimal spend), each scored
    * 1–4 by QUARTILE position, then a first-match segment ladder
    * (CHAMPION / LOYAL / BIG_SPENDER / AT_RISK / LOST / REGULAR —
    * the quality-gate discipline: one CASE, deterministic order).
    *
    * Scale shape: orders collapse to the customer panel in ONE
    * partial-agg shuffle (checkpointed — it feeds both the threshold
    * machinery and the scoring pass); the anchor date and the nine
    * quartile thresholds are broadcast 1-row panels — thresholds via
    * [[Profiling.exactQuantilesBy]]'s rank brackets over one unpivot
    * (monetary is a near-unique double: the builtin exact percentile
    * would hold the whole customer spend map in one reducer) — never
    * a global NTILE window over customers; scoring is a pure codegen
    * pass over the panel. Engine parity: recency/frequency are exact
    * integers, monetary an exact DECIMAL(18,2) sum compared as
    * double (low-entropy cast, §5), thresholds replayed by
    * `quantile_cont` (the established interpolation parity).
    */
  def rfmSegments(orders: DataFrame, keyCol: String, dateCol: String,
                  amountCol: String): DataFrame = {
    val base = orders.filter(col(dateCol).isNotNull)
      .select(col(keyCol).as("custkey"), to_date(col(dateCol)).as("d"),
        money(col(amountCol)).as("amt"))
    val anchor = base.agg(max(col("d")).as("__anchor"))
    val rfm = base.crossJoin(broadcast(anchor))
      .groupBy(col("custkey"))
      .agg(min(datediff(col("__anchor"), col("d"))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("amt")).cast("double").as("monetary"))
      .ckptPartitioned()
    val qs = Profiling.exactQuantilesBy(
      rfm.select(explode(array(
          struct(lit("r").as("__c"), col("recency_days").cast("double").as("__v")),
          struct(lit("f").as("__c"), col("frequency").cast("double").as("__v")),
          struct(lit("m").as("__c"), col("monetary").as("__v")))).as("e"))
        .select(col("e.__c").as("__c"), col("e.__v").as("__v")),
      Seq("__c"), "__v", Seq(0.25, 0.5, 0.75))
    def th(c: String, p: Double): Column =
      max(when(col("__c") === c && col("quantile") === p, col("value")))
    val thr = qs.agg(
      th("r", 0.25).as("r25"), th("r", 0.5).as("r50"), th("r", 0.75).as("r75"),
      th("f", 0.25).as("f25"), th("f", 0.5).as("f50"), th("f", 0.75).as("f75"),
      th("m", 0.25).as("m25"), th("m", 0.5).as("m50"), th("m", 0.75).as("m75"))
    val scored = rfm.crossJoin(broadcast(thr))
      .withColumn("r_score",
        when(col("recency_days") <= col("r25"), 4)
          .when(col("recency_days") <= col("r50"), 3)
          .when(col("recency_days") <= col("r75"), 2).otherwise(1))
      .withColumn("f_score",
        when(col("frequency") >= col("f75"), 4)
          .when(col("frequency") >= col("f50"), 3)
          .when(col("frequency") >= col("f25"), 2).otherwise(1))
      .withColumn("m_score",
        when(col("monetary") >= col("m75"), 4)
          .when(col("monetary") >= col("m50"), 3)
          .when(col("monetary") >= col("m25"), 2).otherwise(1))
    scored.select(col("custkey"), col("recency_days"), col("frequency"),
      col("monetary"), col("r_score"), col("f_score"), col("m_score"),
      when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "CHAMPION")
        .when(col("r_score") >= 3 && col("f_score") >= 3, "LOYAL")
        .when(col("m_score") >= 4, "BIG_SPENDER")
        .when(col("r_score") <= 2 && col("f_score") >= 3, "AT_RISK")
        .when(col("r_score") <= 1 && col("f_score") <= 2, "LOST")
        .otherwise("REGULAR").as("segment"))
  }

  /** Per-key INTERVAL UNION: merge a key's overlapping/touching closed
    * [lo, hi] intervals into maximal disjoint blocks and report the
    * total covered length, block count, full span and coverage ratio —
    * "how much of the timeline is this key actually busy" (the
    * utilization/coverage complement of [[peakConcurrency]]'s depth
    * question; double-counted overlap is exactly what a naive
    * Σ(hi−lo+1) gets wrong).
    *
    * Sweep: within each key, intervals in (lo, hi) order; an interval
    * starts a new block iff its lo lies strictly past the running max
    * hi of all earlier intervals (closed semantics: touching at one
    * unit merges); block id = running count of starts; blocks then
    * collapse to (min lo, max hi). Ties on identical (lo, hi) rows are
    * inert — either order yields the same flags — so the window is
    * deterministic without a unique id.
    *
    * Scale shape: both windows partition by the KEY — frames are
    * bounded by one key's own interval count (the sessionizer shape),
    * never a global order; the rest is two partial-agg collapses.
    * Lengths are exact longs; the one quotient ships raw (§6 rule).
    */
  def intervalUnion(intervals: DataFrame, keyCol: String,
                    loCol: String, hiCol: String): DataFrame = {
    val iv = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(hiCol) >= col(loCol))
      .select(col(keyCol).as("key"), col(loCol).cast("long").as("lo"),
        col(hiCol).cast("long").as("hi"))
    val w = Window.partitionBy(col("key")).orderBy(col("lo"), col("hi"))
    val prevMax = max(col("hi")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv.withColumn("__new_block",
      when(prevMax.isNull || col("lo") > prevMax, 1L).otherwise(0L))
    val blocks = marked.withColumn("__block",
      sum(col("__new_block")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("key"), col("__block"))
      .agg(min(col("lo")).as("b_lo"), max(col("hi")).as("b_hi"),
        count(lit(1)).as("n_iv"))
    blocks.groupBy(col("key"))
      .agg(sum(col("n_iv")).as("n_intervals"),
        count(lit(1)).as("n_blocks"),
        sum(col("b_hi") - col("b_lo") + 1).as("covered_units"),
        min(col("b_lo")).as("span_lo"), max(col("b_hi")).as("span_hi"))
      .withColumn("span_units", col("span_hi") - col("span_lo") + 1)
      .withColumn("coverage_ratio",
        col("covered_units").cast("double") / col("span_units").cast("double"))
  }

  def peakConcurrency(intervals: DataFrame, startCol: String, endCol: String,
                      idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty,
      "peakConcurrency needs tie-break id columns for a total sweep order")
    val sw = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(endCol) >= col(startCol))
      .select(explode(array(
        struct(col(startCol).as("ts"), lit(1L).as("delta")),
        struct(col(endCol).as("ts"), lit(-1L).as("delta")))).as("__e")
        +: idCols.map(col): _*)
      .select(col("__e.ts").as("ts") +: col("__e.delta").as("delta")
        +: idCols.map(col): _*)
    val run = PrefixSum.globalOrdered(sw,
      col("ts").asc +: col("delta").desc +: idCols.map(col(_).asc), "delta")
    run.agg(
        max(struct(col("prefix_sum").as("p"),
          (-unix_millis(col("ts"))).as("negts"))).as("__m"),
        (count(lit(1)) / lit(2)).cast("long").as("n_intervals"))
      .select(col("__m.p").as("peak_concurrency"),
        timestamp_millis(-col("__m.negts")).as("at_ts"),
        col("n_intervals"))
  }

  /** Mann–Whitney U rank-sum test between two groups of a numeric
    * column — the NONPARAMETRIC sibling of the abtest-readout's
    * Welch-style comparison: no normality assumption, driven entirely
    * by ranks, with the standard midrank treatment of ties and the
    * tie-corrected normal approximation for the z statistic.
    *
    * Scale shape: ranks never touch row-level data — the test runs on
    * the DISTINCT-VALUE panel (value, per-group counts), globally
    * ordered through the two-phase [[PrefixSum]] (no single-partition
    * window over data). Midranks are half-integers (cum-before +
    * (ties+1)/2), so the rank sum is EXACT as DECIMAL(28,1) partials;
    * U, its mean and the tie-corrected variance are integer-derived;
    * only the final z is floating (one sqrt + one division over
    * exact inputs, engine-identical).
    *
    * Output: 1 row — n_a, n_b, u_a, u_b (longs; U_a + U_b = n_a·n_b
    * by construction), r_a (the group-A rank sum, DECIMAL-exact) and
    * z (U_a vs its null mean, + means group A ranks higher).
    */
  def mannWhitney(df: DataFrame, valueCol: String,
                  groupA: Column): DataFrame = {
    val d1 = DecimalType(28, 1)
    val panel = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(groupA, 1L).otherwise(0L)).as("__na"),
        sum(when(groupA, 0L).otherwise(1L)).as("__nb"))
      .withColumn("__nt", col("__na") + col("__nb"))
    val ranked = PrefixSum.globalOrdered(panel, Seq(col("__v")), "__nt")
      .withColumn("__midrank",
        (col("prefix_sum") - col("__nt")).cast("double")
          + (col("__nt") + 1L).cast("double") / 2.0)
    // U can itself be a half-integer under cross-group ties, so U
    // stays in the exact DECIMAL(28,1) space and ships as a double
    // (exact cast), never truncated to a long.
    ranked.agg(
        sum(col("__na")).as("n_a"),
        sum(col("__nb")).as("n_b"),
        sum((col("__na").cast("double") * col("__midrank")).cast(d1)).as("r_a"),
        sum(col("__nt") * col("__nt") * col("__nt") - col("__nt")).as("__ties"))
      .withColumn("u_a",
        col("r_a") - ((col("n_a") * (col("n_a") + 1L)) / lit(2.0)).cast(d1))
      .withColumn("u_b", (col("n_a") * col("n_b")).cast(d1) - col("u_a"))
      .withColumn("__n", col("n_a") + col("n_b"))
      .withColumn("__var",
        (col("n_a") * col("n_b")).cast("double") / 12.0 *
          ((col("__n") + 1L).cast("double")
            - col("__ties").cast("double")
              / (col("__n") * (col("__n") - 1L)).cast("double")))
      .select(col("n_a"), col("n_b"),
        col("u_a").cast("double").as("u_a"),
        col("u_b").cast("double").as("u_b"),
        col("r_a").cast("double").as("r_a"),
        when(col("__var") === 0.0, lit(0.0))
          .otherwise((col("u_a").cast("double")
            - (col("n_a") * col("n_b")).cast("double") / 2.0)
            / sqrt(col("__var"))).as("z"))
  }

  /** Welch two-sample t-test + standardized effect sizes — the
    * PARAMETRIC sibling of [[mannWhitney]] (means rather than ranks):
    * unequal-variance t, the Welch–Satterthwaite degrees of freedom,
    * Cohen's d on the pooled SD and its small-sample Hedges' g
    * correction. The verdict column compares |t| to the NORMAL 1.96
    * critical value (exact t quantiles need the incomplete beta — a
    * libm surface the engine-parity rule excludes; at panel-scale df
    * the normal approximation is the textbook practice and the df
    * column lets a caller apply an exact table offline).
    *
    * Scale shape: ONE scan collapsing to a 1-row panel of exact
    * decimal moments per group (count/sum/sum-of-squares under the §5
    * grid discipline — value² re-floored to the 1e-6 grid before its
    * scale-6 cast, the ridgeTwoFeature idiom); everything after is
    * fixed-order IEEE panel math. Degenerate inputs (an empty group,
    * zero variance) surface as NULL statistics via the NULLIF
    * convention, never an ANSI arithmetic error.
    */
  def welchTTest(df: DataFrame, valueCol: String, groupA: Column): DataFrame = {
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val v = q6(col(valueCol).cast("double"))
    def side(p: Column, tag: String): Seq[Column] = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(p, v).otherwise(lit(0.0)).cast(d6)).cast("double").as(s"__s_$tag"),
      sum(when(p, q6(v * v)).otherwise(lit(0.0)).cast(d6)).cast("double").as(s"__ss_$tag"))
    val cols = side(groupA, "a") ++ side(!groupA, "b")
    val m = df.filter(col(valueCol).isNotNull).agg(cols.head, cols.tail: _*)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    def stats(tag: String): (Column, Column, Column) = {
      val n = col(s"n_$tag").cast("double")
      val mean = col(s"__s_$tag") / nz(n)
      val variance = (col(s"__ss_$tag") - col(s"__s_$tag") * col(s"__s_$tag") / nz(n)) /
        nz(n - 1.0)
      (n, mean, variance)
    }
    val (na, meanA, varA) = stats("a")
    val (nb, meanB, varB) = stats("b")
    val seA = varA / nz(na)
    val seB = varB / nz(nb)
    val se2 = seA + seB
    val t = (meanA - meanB) / nz(sqrt(se2))
    val dfW = se2 * se2 / nz(seA * seA / nz(na - 1.0) + seB * seB / nz(nb - 1.0))
    val sdPooled = sqrt(((na - 1.0) * varA + (nb - 1.0) * varB) / nz(na + nb - 2.0))
    val d = (meanA - meanB) / nz(sdPooled)
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - 9.0))
    m.select(col("n_a"), col("n_b"),
      meanA.as("mean_a"), meanB.as("mean_b"),
      varA.as("var_a"), varB.as("var_b"),
      (meanA - meanB).as("mean_diff"),
      t.as("t_stat"), dfW.as("df_welch"),
      d.as("cohen_d"), g.as("hedges_g"),
      (abs(t) > 1.96).as("significant_normal_5pct"))
  }

  /** One-way ANOVA F over a categorical grouping — the K-group
    * PARAMETRIC sibling of [[kruskalWallis]] (means rather than
    * ranks): between/within sum-of-squares decomposition, the F
    * statistic and the η² effect share. Reported with its (k−1,
    * N−k) degrees of freedom; the verdict is left to the caller (F
    * quantiles are another incomplete-beta surface).
    *
    * Scale shape: one scan → ≤K-group panel of exact decimal moments
    * (map-side combined), then the panel collapses to one row. The
    * cross-group sums ride DECIMAL partials on 1e-6-grid terms (§5) so
    * parallel reduction order can never move SSB/SSW; the F quotient
    * is fixed-order IEEE at the edge.
    */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val d6 = DecimalType(28, 6)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val v = q6(col(valueCol).cast("double"))
    val groups = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(v.cast(d6)).as("__sdec"),
        sum(q6(v * v).cast(d6)).as("__ssdec"))
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    // pure sums stay DECIMAL across both aggregation levels (no
    // double→decimal recast to diverge on); the per-group s²/n is a
    // full-entropy quotient → floor-grid before its decimal panel
    // partial so the cross-group sum is order-free
    val panel = groups.agg(
      count(lit(1)).as("k_groups"),
      sum(col("__n")).as("n_total"),
      sum(q6(col("__sdec").cast("double") * col("__sdec").cast("double")
        / col("__n").cast("double")).cast(d6))
        .cast("double").as("__sum_sg2n"),
      sum(col("__sdec")).cast("double").as("__grand_s"),
      sum(col("__ssdec")).cast("double").as("__grand_ss"))
    val n = col("n_total").cast("double")
    val k = col("k_groups").cast("double")
    val ssb = col("__sum_sg2n") - col("__grand_s") * col("__grand_s") / nz(n)
    val ssw = col("__grand_ss") - col("__sum_sg2n")
    val sst = ssb + ssw
    val f = (ssb / nz(k - 1.0)) / nz(ssw / nz(n - k))
    panel.select(col("k_groups"), col("n_total"),
      ssb.as("ss_between"), ssw.as("ss_within"),
      (k - 1.0).as("df_between"), (n - k).as("df_within"),
      f.as("f_stat"), (ssb / nz(sst)).as("eta_sq"))
  }

  /** Brown–Forsythe variance-homogeneity test — Levene's W on
    * absolute deviations from the GROUP MEDIAN (the robust variant):
    * "do the K groups even have comparable spread" is the assumption
    * check ANOVA's F rests on, so the two ship as a pair. W is
    * literally the one-way ANOVA F of z = |x − median_g| — computed by
    * delegating to [[anovaF]], so the §5 moment discipline is shared,
    * not duplicated.
    *
    * Scale shape: one exact-percentile pass builds the ≤K-row median
    * panel (broadcast — the group key is a bounded categorical by
    * contract), one scan forms the deviations, then anovaF's
    * panel collapse. The deviation column enters anovaF RAW (its
    * single q6 is the only grid step — a double floor-grid is not
    * idempotent across engines).
    */
  def brownForsythe(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    val meds = rows.groupBy(col("__g"))
      .agg(percentile(col("__v"), lit(0.5)).as("__med"))
    val dev = rows.join(broadcast(meds), Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__z"))
    anovaF(dev, "__z", "__g")
      .select(col("k_groups"), col("n_total"),
        col("f_stat").as("w_stat"),
        col("df_between"), col("df_within"))
  }

  /** Always-valid SEQUENTIAL experiment readout (mSPRT, Johari et
    * al.'s mixture sequential probability ratio test on the
    * two-proportion metric) — the "peek every day without inflating
    * false positives" companion of [[abtestReadout]]'s fixed-horizon
    * z: per calendar day, the cumulative enrollment/conversion panel,
    * the mixture log likelihood ratio ln Λ_n (normal approximation,
    * N(0, τ²) effect prior), and the always-valid log p-value
    * `ln p_n = −max(0, running-max ln Λ)` — monotone by construction,
    * so a decision at ANY day is valid.
    *
    * Scale shape: users collapse once (enrollment day = first event,
    * conversion day = first converting event — each user enters the
    * panel exactly once, which is what makes the day panel additive),
    * the day panel rides [[PrefixSum.globalOrderedN]] for the four
    * cumulative counts and [[PrefixSum.globalOrderedMax]] for the
    * running maximum — never a data-sized or single-partition window.
    * Engine parity: counts are exact; ln is §5 grid-quantized; every
    * other step is fixed-order IEEE on exact inputs; the α=0.05
    * boundary is a parsed literal (ln 0.05), never a libm call.
    * Degenerate days (an empty arm, pooled rate 0 or 1) yield NULL
    * ln Λ and inherit the running maximum, never a division error.
    */
  /** The mSPRT mixture log likelihood ratio on a cumulative
    * two-proportion panel — shared by the batch per-day readout and
    * the streaming per-batch sink so the two can never drift. One
    * fixed IEEE op order; ln is §5 grid-quantized; NULL on a
    * degenerate panel (empty arm, pooled rate 0 or 1).
    */
  private[graft] def msprtLnLambda(nA: Column, nB: Column, cA: Column,
                                   cB: Column, tau2: Double): Column = {
    def nz(c: Column) = when(c === 0, lit(null)).otherwise(c)
    val delta = cB / nz(nB) - cA / nz(nA)
    val pooled = (cA + cB) / nz(nA + nB)
    val vn = pooled * (lit(1.0) - pooled) * (lit(1.0) / nz(nA) + lit(1.0) / nz(nB))
    val gln = floor(log(vn / (vn + lit(tau2))) * lit(1e6)) / lit(1e6)
    when(vn.isNull || vn === 0.0, lit(null))
      .otherwise(lit(0.5) * gln +
        delta * delta * lit(tau2) / (lit(2.0) * vn * (vn + lit(tau2))))
  }

  def msprtSequential(events: DataFrame, variantCol: String, a: String,
                      convPred: Column, tau2: Double = 0.01): DataFrame = {
    val isA = col(variantCol) === a
    val users = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), col(variantCol))
      .agg(min(to_date(col("ts"))).as("enr_d"),
        min(when(convPred, to_date(col("ts")))).as("cnv_d"))
      .ckptPartitioned()
    val enr = users.groupBy(col("enr_d").as("day"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("d_na"),
        sum(when(!isA, 1L).otherwise(0L)).as("d_nb"))
      .withColumn("d_ca", lit(0L)).withColumn("d_cb", lit(0L))
    val cnv = users.filter(col("cnv_d").isNotNull)
      .groupBy(col("cnv_d").as("day"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("d_ca"),
        sum(when(!isA, 1L).otherwise(0L)).as("d_cb"))
      .withColumn("d_na", lit(0L)).withColumn("d_nb", lit(0L))
    val byDay = enr.unionByName(cnv, allowMissingColumns = false)
      .groupBy(col("day"))
      .agg(sum(col("d_na")).as("d_na"), sum(col("d_nb")).as("d_nb"),
        sum(col("d_ca")).as("d_ca"), sum(col("d_cb")).as("d_cb"))
    val cum = PrefixSum.globalOrderedN(byDay, Seq(col("day")),
      Seq("d_na", "d_nb", "d_ca", "d_cb"))
      .select(col("day"), col("prefix_d_na").as("n_a"),
        col("prefix_d_nb").as("n_b"), col("prefix_d_ca").as("conv_a"),
        col("prefix_d_cb").as("conv_b"))
    val panel = cum.withColumn("ln_lambda",
      msprtLnLambda(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"), tau2))
    val run = PrefixSum.globalOrderedMax(panel, Seq(col("day")), "ln_lambda")
    val lnP = when(col("prefix_max").isNull, lit(null))
      .otherwise(-greatest(col("prefix_max"), lit(0.0)))
    run.select(col("day"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      col("ln_lambda"), lnP.as("ln_p_always_valid"),
      when(col("prefix_max").isNull, lit(null))
        .otherwise(lnP < lit(-2.995732273553991)).as("reject_5pct"))
  }

  /** Odds-ratio panel for a binary outcome against a binary exposure
    * (the 2×2 epidemiology/experiment readout): OR = (a·d)/(b·c) with
    * its log-scale Wald interval `ln OR ± 1.96·√(1/a+1/b+1/c+1/d)` —
    * reported IN LOG SCALE (the house libm rule: ln grid-quantized on
    * the 1-row panel, no exp anywhere; the significance verdict is
    * `0 outside the log interval`, identical either way).
    *
    * One fact scan → a 1-row four-cell panel; cell products are exact
    * integers, the quotient/sqrt are fixed-order IEEE, 1.96 is a
    * parsed literal. Any empty cell yields NULL estimates, never a
    * division error.
    */
  def oddsRatio(events: DataFrame, exposure: Column, outcome: Column): DataFrame = {
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L))
    oddsRatioFromCells(events.agg(
      cell(exposure && outcome).as("n_exp_pos"),
      cell(exposure && !outcome).as("n_exp_neg"),
      cell(!exposure && outcome).as("n_ctl_pos"),
      cell(!exposure && !outcome).as("n_ctl_neg")))
  }

  /** The ratio/CI step over a 1-row cell panel — split out so the
    * cast-before-multiply overflow discipline is property-testable at
    * adversarial cell magnitudes (PropertySpec feeds cells whose
    * long×long products pass 2^63).
    */
  private[graft] def oddsRatioFromCells(g: DataFrame): DataFrame = {
    val (a, b, c, d) = (col("n_exp_pos"), col("n_exp_neg"),
      col("n_ctl_pos"), col("n_ctl_neg"))
    val anyEmpty = a === 0L || b === 0L || c === 0L || d === 0L
    // cells cast to double BEFORE the multiply: LONG×LONG overflows
    // silently past ~3e9-count cells and flips the ratio; double
    // products round the same exact integer product once, so results
    // are bit-identical wherever the long product fits
    val or = (a.cast("double") * d.cast("double")) /
      (b.cast("double") * c.cast("double"))
    val lnOr = floor(log(or) * lit(1e6)) / lit(1e6)
    val se = sqrt(lit(1.0) / a.cast("double") + lit(1.0) / b.cast("double")
      + lit(1.0) / c.cast("double") + lit(1.0) / d.cast("double"))
    val lo = lnOr - lit(1.96) * se
    val hi = lnOr + lit(1.96) * se
    g.select(a, b, c, d,
      when(anyEmpty, lit(null)).otherwise(or).as("odds_ratio"),
      when(anyEmpty, lit(null)).otherwise(lnOr).as("ln_or"),
      when(anyEmpty, lit(null)).otherwise(lo).as("ln_or_lo95"),
      when(anyEmpty, lit(null)).otherwise(hi).as("ln_or_hi95"),
      when(anyEmpty, lit(null))
        .otherwise(lo > 0.0 || hi < 0.0).as("significant_5pct"))
  }

  /** Cumulative gains / lift table over a binned score — the
    * model-evaluation panel next to the calibration bins and the PR
    * curve: bins ordered by score DESCENDING, the share of all
    * positives captured within the top bins vs the share of
    * population taken, and the per-depth lift (captured share /
    * population share); lift > 1 above random, → 1 at full depth.
    *
    * Scale shape: one fact-collapsing partial agg to the ≤bins panel;
    * the cumulative sums ride the two-phase [[PrefixSum]] over the
    * panel in descending-score order. Exact-integer quotients, one
    * division per column.
    */
  def gainsTable(df: DataFrame, binCol: Column, labelPred: Column): DataFrame = {
    val panel = df.select(binCol.cast("long").as("bin"),
        when(labelPred, 1L).otherwise(0L).as("__y"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
    val cum = PrefixSum.globalOrderedN(
      panel.withColumn("__ord", -col("bin")), Seq(col("__ord")),
      Seq("n", "n_pos"))
    val tot = panel.agg(sum(col("n")).as("__tn"), sum(col("n_pos")).as("__tp"))
    val popShare = col("prefix_n").cast("double") / col("__tn").cast("double")
    val capShare = col("prefix_n_pos").cast("double") / col("__tp").cast("double")
    cum.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        col("prefix_n").as("cum_n"), col("prefix_n_pos").as("cum_pos"),
        popShare.as("population_share"),
        when(col("__tp") === 0L, lit(null)).otherwise(capShare)
          .as("captured_share"),
        when(col("__tp") === 0L, lit(null))
          .otherwise(capShare / popShare).as("lift"))
  }

  /** Statistical process control p-chart over a daily proportion —
    * the SPC member of the monitoring family (drift gates watch the
    * distribution, anomaly scores watch the level, CUSUM watches the
    * mean; the control chart watches a RATE against its binomial
    * noise floor): per day, the conversion rate with center line p̄
    * and per-day 3σ limits `p̄ ± 3·√(p̄(1−p̄)/n_t)` — wider on quiet
    * days, tighter on busy ones — and the out-of-control verdict.
    *
    * Scale shape: one fact-collapsing partial agg to the day panel,
    * one 1-row totals panel broadcast back. Engine parity: p̄ and the
    * per-day rates are exact-integer quotients; limits are fixed-order
    * IEEE (one sqrt); the verdict is comparisons.
    */
  def controlChartP(events: DataFrame, convPred: Column): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(convPred, 1L).otherwise(0L)).as("n_pos"))
    val tot = daily.agg(sum(col("n")).as("__tn"), sum(col("n_pos")).as("__tp"))
    val pbar = col("__tp").cast("double") / col("__tn").cast("double")
    val se = sqrt(pbar * (lit(1.0) - pbar) / col("n").cast("double"))
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    val ucl = pbar + lit(3.0) * se
    val lcl = greatest(lit(0.0), pbar - lit(3.0) * se)
    daily.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), col("n_pos"), rate.as("rate"),
        pbar.as("p_bar"), ucl.as("ucl"), lcl.as("lcl"),
        (rate > ucl || rate < lcl).as("out_of_control"))
  }

  /** Lead/lag cross-correlation panel between two event types' daily
    * count series — "does A's volume predict B's L days later": one
    * Pearson correlation per lag in [−maxLag, +maxLag], over the
    * days observed in BOTH series at that alignment. Positive lag =
    * A leads B. The lagged companion of the ACF panel (which is a
    * series against itself).
    *
    * Scale shape: the fact collapses once per side to a ≤#days panel;
    * the lag expansion (panel × (2·maxLag+1)) and the date-shifted
    * join are panel math. Moments are exact DECIMAL partials per lag
    * (counts cast before products so every multiply stays inside
    * precision 38), the corr is one fixed-order double expression —
    * the spearman/corrPairs discipline.
    */
  def xcorrLags(events: DataFrame, typeA: String, typeB: String,
                maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag must be positive")
    val d10 = DecimalType(10, 0)
    val d18 = DecimalType(18, 0)
    val d27 = DecimalType(27, 0)
    def daily(t: String, day: String, cn: String) = events
      .filter(col("ts").isNotNull && upper(trim(col("event_type"))) === t)
      .groupBy(to_date(col("ts")).as(day)).agg(count(lit(1)).as(cn))
    val a = daily(typeA, "d", "na")
    val b = daily(typeB, "db", "nb")
    val pairs = a
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .join(b, date_add(col("d"), col("lag")) === col("db"))
    val agg = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("na").cast(d18)).as("__sa"),
        sum(col("nb").cast(d18)).as("__sb"),
        sum(col("na").cast(d18) * col("na").cast(d18)).as("__saa"),
        sum(col("nb").cast(d18) * col("nb").cast(d18)).as("__sbb"),
        sum(col("na").cast(d18) * col("nb").cast(d18)).as("__sab"))
    def prod2(x: String, y: String) =
      (col(x).cast(d18) * col(y).cast(d18)).cast("double")
    val n10 = col("n_days").cast(d10)
    val num = (n10 * col("__sab").cast(d27)).cast("double") - prod2("__sa", "__sb")
    val va = (n10 * col("__saa").cast(d27)).cast("double") - prod2("__sa", "__sa")
    val vb = (n10 * col("__sbb").cast(d27)).cast("double") - prod2("__sb", "__sb")
    val denom = sqrt(va) * sqrt(vb)
    agg.select(col("lag"), col("n_days"),
      (num / when(denom === 0.0, lit(null)).otherwise(denom)).as("xcorr"))
  }

  /** Engle–Granger cointegration (two-step) between every ordered
    * pair of event-type daily series — the LEVELS companion of
    * [[granger]] (Granger asks about lagged increments; cointegration
    * asks whether two non-stationary series share a long-run
    * equilibrium: the spread y − a − b·x mean-reverts): step 1 OLS
    * y_d = a + b·x_d over co-observed days, step 2 an ADF(0) test on
    * the residuals — Δe_d = γ·e_{d−1}, t(γ̂) compared to the
    * MacKinnon asymptotic 5% critical −3.33613 for two variables
    * with a constant (exact-constant discipline, no dist libm).
    *
    * Engine parity: step-1 coefficients come from exact integer
    * moments (ONE double cast each, the [[granger]] pattern); each
    * residual is then the SAME fixed IEEE sequence (y − a) − b·x,
    * floor-gridded to 1e-6 micro-units as an exact LONG — from there
    * every step-2 moment is an exact DECIMAL sum of micro-unit
    * products (order-free partials; the µ² unit factors cancel in γ
    * and t, so no unit conversion ever re-rounds), and γ/t are a
    * fixed double sequence over identical inputs — bit-identical in
    * the SQL twin, verdict boolean included.
    *
    * Scale shape: ONE fact pass to the (type, day) panel (shared
    * shape with [[granger]]); pair fan-out, the residual grid and the
    * one-day lag join all run on that bounded panel; two pair-keyed
    * aggregations. NULL guards: degenerate step-1 regressor
    * (n·Sxx − Sx² = 0), fewer than 3 residual diffs, zero lagged
    * residual energy, and a perfect step-2 fit.
    */
  def cointegration(events: DataFrame): DataFrame = {
    val d18 = DecimalType(18, 0)
    val d10 = DecimalType(10, 0)
    val daily = events.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(upper(trim(col("event_type"))).as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .ckptPartitioned()
    val rows = daily.select(col("et").as("series_y"), col("d"), col("n").as("y"))
      .join(daily.select(col("et").as("series_x"), col("d"), col("n").as("x")),
        Seq("d"))
      .filter(col("series_x") =!= col("series_y"))
    val m1 = rows.groupBy(col("series_x"), col("series_y"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast(d18)).as("__sx"),
        sum(col("y").cast(d18)).as("__sy"),
        sum(col("x").cast(d18) * col("x").cast(d18)).as("__sxx"),
        sum(col("x").cast(d18) * col("y").cast(d18)).as("__sxy"))
    val n10 = col("n_days").cast(d10)
    val vxx = (n10 * col("__sxx")).cast("double") -
      (col("__sx") * col("__sx")).cast("double")
    val vxy = (n10 * col("__sxy")).cast("double") -
      (col("__sx") * col("__sy")).cast("double")
    val coef = m1.select(col("series_x"), col("series_y"), col("n_days"),
        when(vxx =!= 0.0, vxy / vxx).as("__b"),
        col("__sy").cast("double").as("__syd"),
        col("__sx").cast("double").as("__sxd"))
      .withColumn("__a", (col("__syd") - col("__b") * col("__sxd"))
        / col("n_days").cast("double"))
      .withColumn("beta", floor(col("__b") * lit(1e6)) / lit(1e6))
      .ckptPartitioned()
    // residuals on the 1e-6 grid as exact micro-unit longs
    val resid = rows.join(broadcast(coef.select(col("series_x"), col("series_y"),
        col("__a"), col("__b"))), Seq("series_x", "series_y"))
      .filter(col("__b").isNotNull)
      .select(col("series_x"), col("series_y"), col("d"),
        floor((col("y").cast("double") - col("__a")
          - col("__b") * col("x").cast("double")) * lit(1e6))
          .cast("long").as("e6"))
    val diffs = resid.as("c")
      .join(resid.select(col("series_x"), col("series_y"),
          date_add(col("d"), 1).as("d"), col("e6").as("pe6")),
        Seq("series_x", "series_y", "d"))
      .select(col("series_x"), col("series_y"), col("pe6"),
        (col("e6") - col("pe6")).as("de6"))
    val m2 = diffs.groupBy(col("series_x"), col("series_y"))
      .agg(count(lit(1)).as("n_diffs"),
        sum(col("pe6").cast(d18) * col("de6").cast(d18)).as("__sed"),
        sum(col("pe6").cast(d18) * col("pe6").cast(d18)).as("__see"),
        sum(col("de6").cast(d18) * col("de6").cast(d18)).as("__sdd"))
    val ed = col("__sed").cast("double")
    val ee = col("__see").cast("double")
    val dd = col("__sdd").cast("double")
    val gamma = ed / ee
    val rss = dd - ed * ed / ee
    val tStat = gamma / sqrt((rss / (col("n_diffs") - 1).cast("double")) / ee)
    def grid(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)
    coef.select(col("series_x"), col("series_y"), col("n_days"), col("beta"))
      .join(m2, Seq("series_x", "series_y"), "left")
      .select(col("series_x"), col("series_y"), col("n_days"),
        coalesce(col("n_diffs"), lit(0L)).as("n_diffs"), col("beta"),
        when(col("beta").isNotNull && col("n_diffs") >= 3 && ee =!= 0.0,
          grid(gamma)).as("gamma"),
        when(col("beta").isNotNull && col("n_diffs") >= 3 && ee =!= 0.0
          && rss > 0.0, grid(tStat)).as("adf_t"))
      .withColumn("coint_5pct",
        when(col("adf_t").isNull, lit(null).cast("boolean"))
          .otherwise(col("adf_t") < -3.33613))
  }

  /** Granger causality (lag-1) between every ordered pair of
    * event-type daily series — the DIRECTED upgrade of [[xcorrLags]]
    * (cross-correlation says two series co-move; Granger asks whether
    * yesterday's X improves the prediction of today's Y BEYOND
    * yesterday's Y): restricted OLS y_t ~ y_{t−1} vs unrestricted
    * y_t ~ y_{t−1} + x_{t−1}, F = (RSS_r − RSS_u)·(n−3)/RSS_u with
    * (1, n−3) dof, verdict at the F(1,∞)=χ²(1) 5% critical value
    * 3.841459 (exact-constant discipline — no dist-function libm).
    *
    * Engine parity: daily counts are exact longs, every moment an
    * exact DECIMAL sum; the n·Σ−Σ·Σ centered forms stay in DECIMAL
    * and cast to double ONCE each, after which the 2×2 solve
    * (det/b₁/b₂) and both RSS are a fixed sequence of IEEE ops over
    * identical doubles — the F statistic and the boolean verdict are
    * bit-identical in the SQL twin. RSS terms share the n-scaled
    * centered forms (the 1/n factors cancel in F).
    *
    * Scale shape: ONE fact pass to the (type, day) daily panel; the
    * lag joins and the pair fan-out run on that panel (types ×
    * types × days — bounded), one (cause, effect)-keyed aggregation.
    * NULL guards both engines agree on: n < 4 (no residual dof),
    * singular normal equations (det = 0 — collinear or constant
    * regressors), RSS_u = 0 (perfect fit — F undefined, not ∞).
    */
  def granger(events: DataFrame): DataFrame = {
    val d18 = DecimalType(18, 0)
    val d10 = DecimalType(10, 0)
    val daily = events.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(upper(trim(col("event_type"))).as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .ckptPartitioned()
    val rows = daily.select(col("et").as("effect"), col("d"), col("n").as("y"))
      .join(daily.select(col("et").as("effect"),
        date_add(col("d"), 1).as("d"), col("n").as("y1")), Seq("effect", "d"))
      .join(daily.select(col("et").as("cause"),
        date_add(col("d"), 1).as("d"), col("n").as("x1")),
        Seq("d"))
      .filter(col("cause") =!= col("effect"))
    val m = rows.groupBy(col("cause"), col("effect"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("y").cast(d18)).as("__sy"),
        sum(col("y1").cast(d18)).as("__sy1"),
        sum(col("x1").cast(d18)).as("__sx1"),
        sum(col("y").cast(d18) * col("y").cast(d18)).as("__syy"),
        sum(col("y1").cast(d18) * col("y1").cast(d18)).as("__s11"),
        sum(col("x1").cast(d18) * col("x1").cast(d18)).as("__s22"),
        sum(col("y").cast(d18) * col("y1").cast(d18)).as("__sy_1"),
        sum(col("y").cast(d18) * col("x1").cast(d18)).as("__sy_2"),
        sum(col("y1").cast(d18) * col("x1").cast(d18)).as("__s12"))
    // n-scaled centered moments, each ONE decimal->double cast
    val n10 = col("n_days").cast(d10)
    def a(nSxy: Column, sx: String, sy: String): Column =
      nSxy.cast("double") - (col(sx) * col(sy)).cast("double")
    val a11 = a(n10 * col("__s11"), "__sy1", "__sy1")
    val a22 = a(n10 * col("__s22"), "__sx1", "__sx1")
    val a12 = a(n10 * col("__s12"), "__sy1", "__sx1")
    val a1y = a(n10 * col("__sy_1"), "__sy1", "__sy")
    val a2y = a(n10 * col("__sy_2"), "__sx1", "__sy")
    val ayy = a(n10 * col("__syy"), "__sy", "__sy")
    val det = a11 * a22 - a12 * a12
    val b1 = (a1y * a22 - a2y * a12) / det
    val b2 = (a2y * a11 - a1y * a12) / det
    val rssU = ayy - b1 * a1y - b2 * a2y
    val rssR = ayy - a1y * a1y / a11
    val f = (rssR - rssU) * (col("n_days") - 3).cast("double") / rssU
    def grid(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)
    m.select(col("cause"), col("effect"), col("n_days"),
        when(col("n_days") >= 4 && det =!= 0.0, grid(b2)).as("b_cause"),
        when(col("n_days") >= 4 && det =!= 0.0 && a11 =!= 0.0 && rssU > 0.0,
          grid(f)).as("f_stat"))
      .withColumn("granger_5pct",
        when(col("f_stat").isNull, lit(null).cast("boolean"))
          .otherwise(col("f_stat") > 3.841459))
  }

  /** Kruskal–Wallis H test — does a numeric column's distribution
    * differ across K groups; the K-group generalization of
    * [[mannWhitney]] (same midrank machinery, same tie-corrected
    * normal theory: H ~ χ²(k−1) under the null).
    *
    * Scale shape: the fact collapses ONCE to the (value, group) cell
    * panel; value-level totals and the global ordering ride the
    * two-phase [[PrefixSum]] over the distinct-value panel (never a
    * data-sized window), per-group rank sums are one panel join +
    * k-key aggregation. Engine parity: DOUBLED midranks keep every
    * rank sum an exact integer DECIMAL; the per-group term
    * s_g²/n_g (s_g = rank-sum share ≤ 1, an IEEE division of exact
    * integers) is §5 floor-grid-quantized at 1e-12 before its
    * DECIMAL(18,12) sum, so the cross-group total is order-free and
    * engine-identical; H and the tie correction are fixed-order
    * doubles over exact inputs.
    *
    * Output: 1 row — n, n_groups, h, h_corrected (NULL when every
    * value ties — the correction denominator vanishes).
    */
  def kruskalWallis(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val d12 = DecimalType(12, 0)
    val cell = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(valueCol).as("__v"), col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__nvg"))
      .ckptPartitioned()
    val pv = cell.groupBy(col("__v")).agg(sum(col("__nvg")).as("__nt"))
      .ckptPartitioned()
    val dv = PrefixSum.globalOrdered(pv, Seq(col("__v")), "__nt")
      .select(col("__v"),
        (lit(2L) * (col("prefix_sum") - col("__nt")) + col("__nt") + 1L).as("__d2"))
    val grp = cell.join(dv, Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__nvg")).as("__ng"),
        sum(col("__nvg").cast(d12) * col("__d2").cast(d12)).as("__r2g"))
    val nRow = grp.agg(sum(col("__ng")).as("__n"),
      count(lit(1)).as("n_groups"))
    val tie = pv.agg(
      sum(col("__nt").cast(d12) * col("__nt").cast(d12) * col("__nt").cast(d12)
        - col("__nt").cast(d12)).as("__t3"))
    val nn1d = (col("__n").cast(d12) * (col("__n") + 1L).cast(d12)).cast("double")
    val sq = grp.crossJoin(broadcast(nRow))
      .withColumn("__s", col("__r2g").cast("double") / nn1d)
      .withColumn("__term",
        floor(col("__s") * col("__s") / col("__ng").cast("double") * lit(1e12))
          / lit(1e12))
      .agg(sum(col("__term").cast(DecimalType(18, 12))).as("__sq"))
    val h = lit(3.0) * nn1d * col("__sq").cast("double") -
      lit(3.0) * (col("__n").cast("double") + lit(1.0))
    val nn3d = (col("__n").cast(d12) * col("__n").cast(d12) * col("__n").cast(d12)
      - col("__n").cast(d12)).cast("double")
    val cTie = lit(1.0) - col("__t3").cast("double") / nn3d
    sq.crossJoin(broadcast(nRow)).crossJoin(broadcast(tie))
      .select(col("__n").as("n"), col("n_groups"), h.as("h"),
        when(cTie === 0.0, lit(null)).otherwise(h / cTie).as("h_corrected"))
  }

  /** 2-D Pareto-frontier (SKYLINE) flags — which rows are
    * NON-DOMINATED under "x lower is better, y higher is better"
    * (the classic price/quality trade-off query; a row is dominated
    * when some other row is at least as good on both axes and
    * strictly better on one). Every input row is emitted with its
    * verdict plus the two panel maxima the verdict derives from —
    * the audit-panel convention.
    *
    * Scale shape: the fact collapses to the per-x panel (one
    * partial-agg shuffle), the running maximum over x rides the
    * DISTRIBUTED two-phase prefix max ([[PrefixSum.globalOrderedMax]]
    * — never a single-partition window over the distinct-x relation),
    * the strictly-below-x maximum comes from the rank→rank+1 co-keyed
    * self-join (the W₁ consecutive-gap precedent, never a global
    * LAG), and the verdict joins back to the fact on the x key.
    * Engine parity: comparisons only — no arithmetic anywhere, so
    * any comparable x/y types replay exactly.
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val panel = base.groupBy(col(xCol).as("__x"))
      .agg(max(col(yCol)).as("max_y_at_x"))
    val ranked = PrefixSum.globalOrderedMax(panel, Seq(col("__x")), "max_y_at_x")
    val prev = ranked.select((col("row_rank") + 1L).as("row_rank"),
      col("prefix_max").as("max_y_below_x"))
    val xinfo = ranked.join(prev.hint("shuffle_hash"), Seq("row_rank"), "left")
      .select(col("__x"), col("max_y_at_x"), col("max_y_below_x"))
    base.join(xinfo, col(xCol) === col("__x"))
      .withColumn("is_skyline",
        !((col("max_y_below_x").isNotNull &&
            col("max_y_below_x") >= col(yCol)) ||
          col("max_y_at_x") > col(yCol)))
      .drop("__x")
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013) —
    * the pre-experiment covariate adjustment that shrinks metric
    * variance by the squared pre/post correlation, so the same
    * experiment detects smaller lifts (or needs fewer users): each
    * user's post-period metric Y is replaced by
    * `Y' = Y − θ·(X − mean(X))` with X the user's PRE-period metric
    * and `θ = cov(X,Y)/var(X)` fit pooled across arms (the standard
    * practice — θ from the pooled sample is independent of assignment
    * under randomization, so the adjustment is unbiased).
    *
    * Output: one row per arm — n users, raw mean, adjusted mean, raw
    * and adjusted population variance, plus the pooled θ and the
    * variance-reduction share `1 − var'/var` (≈ corr²(X,Y)).
    *
    * Scale shape: ONE fact-sized partial agg collapses events to the
    * per-user (x, y) panel (users without pre-period history take
    * x = 0 — they contribute their own mean, the standard missing-
    * covariate rule); the pooled moment pass is a 1-row panel
    * broadcast back; the per-arm pass aggregates the user panel.
    * Nothing after the first collapse is fact-sized.
    *
    * Engine parity: x/y are exact DECIMAL(18,2) money sums; pooled
    * moments Σx, Σy, Σxy, Σx² ride exact DECIMAL partials (2dp
    * products are 4dp — direct-cast-safe, the A19 discipline); θ and
    * mean are fixed IEEE op sequences. The adjusted value is a
    * full-entropy double, so it floor-quantizes to the 1e-6 grid
    * (§5) before its DECIMAL(28,6) partials; its square re-quantizes
    * after the multiply. Zero pre-period variance yields θ = NULL and
    * NULL adjusted stats, not a division error.
    */
  def cupedReadout(events: DataFrame, variantCol: String,
                   valueCol: Column, prePred: Column): DataFrame = {
    def nz(c: Column) = when(c === 0.0, lit(null)).otherwise(c)
    def q6(c: Column) = floor(c * lit(1e6)) / lit(1e6)
    val d4 = DecimalType(28, 4)
    val d6 = DecimalType(28, 6)
    // fact -> per-user panel: one partial-agg shuffle on the user key
    // per-user sums narrow back to DECIMAL(18,2) so the moment
    // products below stay inside precision 38 (the §5 decimal-add
    // rule: wide-sum arithmetic trips allowPrecisionLoss)
    val users = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col(variantCol).as("arm"))
      .agg(
        coalesce(sum(when(prePred, money(valueCol))), lit(0).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("x"),
        coalesce(sum(when(!prePred, money(valueCol))), lit(0).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("y"))
    // pooled 1-row moment panel: theta and mean(x) in fixed IEEE ops
    val pooled = users.agg(
        count(lit(1)).as("__n"),
        sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"),
        sum((col("x") * col("y")).cast(d4)).as("__sxy"),
        sum((col("x") * col("x")).cast(d4)).as("__sxx"))
      .select(
        // decToDouble on every decimal sum: the moment products pass
        // 2^53 scaled units at 10-100× data, where plain decimal→
        // double casts drift an ulp between engines (§5)
        (decToDouble(col("__sx"), 2) / col("__n").cast("double")).as("__mean_x"),
        ((decToDouble(col("__sxy"), 4)
          - decToDouble(col("__sx"), 2) * decToDouble(col("__sy"), 2)
            / col("__n").cast("double"))
          / nz(decToDouble(col("__sxx"), 4)
            - decToDouble(col("__sx"), 2) * decToDouble(col("__sx"), 2)
              / col("__n").cast("double"))).as("theta"))
    // adjusted per-user values on the 1e-6 grid, then per-arm stats
    val adj = users.crossJoin(broadcast(pooled))
      .withColumn("__ya", q6(col("y").cast("double")
        - col("theta") * (col("x").cast("double") - col("__mean_x"))))
    adj.groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("theta")).as("theta"),
        sum(col("y")).as("__sy"),
        sum((col("y") * col("y")).cast(d4)).as("__syy"),
        sum(col("__ya").cast(d6)).as("__sa"),
        sum(q6(col("__ya") * col("__ya")).cast(d6)).as("__saa"))
      .select(col("arm"), col("n_users"), col("theta"),
        (decToDouble(col("__sy"), 2) / col("n_users").cast("double")).as("mean_raw"),
        (decToDouble(col("__sa"), 6) / col("n_users").cast("double")).as("mean_adj"),
        ((decToDouble(col("__syy"), 4)
          - decToDouble(col("__sy"), 2) * decToDouble(col("__sy"), 2)
            / col("n_users").cast("double"))
          / col("n_users").cast("double")).as("var_raw"),
        ((decToDouble(col("__saa"), 6)
          - decToDouble(col("__sa"), 6) * decToDouble(col("__sa"), 6)
            / col("n_users").cast("double"))
          / col("n_users").cast("double")).as("var_adj"))
      .withColumn("var_reduction",
        lit(1.0) - col("var_adj") / nz(col("var_raw")))
  }
}
