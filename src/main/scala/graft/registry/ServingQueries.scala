package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators._

import Shared._

/** Serving analytics over the valid silver events: demand, boardings,
  * map projections and spatial grids.
  */
private[graft] object ServingQueries {

  def records: Seq[Query] = Seq(
    Query("svc_overview", svcOverview _, Sql(s"""SELECT
         |  (SELECT COUNT(*) FROM ($servingValidSql) WHERE ${servingPredSql(true)}) AS events_observados,
         |  (SELECT ${sumDSql("value", "x")} FROM ($servingValidSql) WHERE ${servingPredSql(true)}) AS events_estimados,
         |  (SELECT COUNT(*) FROM orders) AS orders_observados,
         |  (SELECT ${sumDSql("o_totalprice", "x")} FROM orders) AS orders_estimados,
         |  (SELECT ${sumDSql("l_quantity", "x")} FROM lineitem) AS lineitem_qty_total""".stripMargin)),

    Query("svc_demand_by_day_type", svcDemandByDayType _, Sql(s"""SELECT tipo_dia, COUNT(*) AS etapas_observadas,
         |  ${sumDSql("value", "etapas_estimadas")}
         |FROM ($servingValidSql) WHERE ${servingPredSql(false)}
         |GROUP BY tipo_dia""".stripMargin)),

    Query("svc_demand_by_mode", svcDemandByMode _, Sql(s"""SELECT event_type_norm AS mode_code, COUNT(*) AS etapas_observadas,
         |  ${sumDSql("value", "etapas_estimadas")}
         |FROM ($servingValidSql) WHERE ${servingPredSql(true)}
         |GROUP BY event_type_norm""".stripMargin)),

    Query("svc_top_boardings", svcTopBoardings _, Sql(s"""SELECT user_id AS stop_code, event_type_norm AS mode_code,
         |  ${sumDSql("value", "subidas_promedio_total")}
         |FROM ($servingValidSql) WHERE ${servingPredSql(true)}
         |GROUP BY user_id, event_type_norm
         |ORDER BY subidas_promedio_total DESC, stop_code, mode_code
         |LIMIT 20""".stripMargin)),

    Query("svc_map_points", svcMapPoints _, Sql(mapPointsSql)),

    // 500 m spatial grid density over the map points — per-cell point
    // counts + exact-decimal boarding sums (serving heat map).
    Query("svc_grid_density", svcGridDensity _,
      // Cell ids are floor of one IEEE division (engine-identical);
      // the weight sum follows the roundedSum money convention.
      Sql(s"""WITH mp AS (${mapPointsSql.replace("\n", "\n  ")}),
         |p AS (SELECT 200000.0 + x_utm * 750.0 AS xm,
         |             6200000.0 + y_utm * 1500.0 AS ym, etapas_estimadas
         |      FROM mp)
         |SELECT CAST(FLOOR(xm / 500.0) AS BIGINT) AS cell_x,
         |  CAST(FLOOR(ym / 500.0) AS BIGINT) AS cell_y,
         |  CAST(COUNT(*) AS BIGINT) AS n_points,
         |  CAST(COALESCE(ROUND(SUM(CAST(etapas_estimadas AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS weight_sum,
         |  CAST(FLOOR(xm / 500.0) AS BIGINT) * 500.0 AS cell_x_min,
         |  CAST(FLOOR(ym / 500.0) AS BIGINT) * 500.0 AS cell_y_min
         |FROM p GROUP BY 1, 2""".stripMargin)),

    Query("svc_utm_to_wgs84", svcUtmToWgs84 _, Sql(utmToWgs84Sql)),

    // Grid-density hotspot clustering (DBSCAN's grid cousin): cells
    // with >= 2 points merge with 8-neighbors into connected hotspot
    // regions via the min-label fixpoint — per-region cell/point/
    // boarding totals + bounding box.
    Query("svc_hotspot_clusters", ((s: SparkSession, d: String) => {
      val pts = svcMapPoints(s, d)
        .withColumn("x_utm_m", lit(200000.0) + col("x_utm") * 750.0)
        .withColumn("y_utm_m", lit(6200000.0) + col("y_utm") * 1500.0)
      Serving.hotspotClusters(pts, "x_utm_m", "y_utm_m", cell = 500.0,
        weightCol = "etapas_estimadas", minPts = 2)
    }),
      // Hotspot regions = min-label fixpoint over the 8-neighbor
      // adjacency of dense (>= 2 points) grid cells, replayed as the
      // repo's recursive transitive-closure CTE (the dedup_clusters
      // convention); packed cell id mirrors Serving.hotspotClusters.
      Sql(s"""WITH RECURSIVE mp AS (${mapPointsSql.replace("\n", "\n  ")}),
         |p AS (SELECT 200000.0 + x_utm * 750.0 AS xm,
         |             6200000.0 + y_utm * 1500.0 AS ym, etapas_estimadas
         |      FROM mp),
         |g AS (
         |  SELECT CAST(FLOOR(xm / 500.0) AS BIGINT) AS cell_x,
         |    CAST(FLOOR(ym / 500.0) AS BIGINT) AS cell_y,
         |    CAST(COUNT(*) AS BIGINT) AS n_points,
         |    CAST(COALESCE(ROUND(SUM(CAST(etapas_estimadas AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS weight_sum
         |  FROM p GROUP BY 1, 2),
         |d AS (
         |  SELECT *, (cell_x + 1000000) * 2000000 + (cell_y + 1000000) AS id
         |  FROM g WHERE n_points >= 2),
         |e0 AS (
         |  SELECT a.id AS src, b.id AS dst FROM d a JOIN d b
         |  ON abs(a.cell_x - b.cell_x) <= 1 AND abs(a.cell_y - b.cell_y) <= 1
         |    AND a.id < b.id),
         |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |walk(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst),
         |lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
         |SELECT COALESCE(lab.cluster_id, d.id) AS cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n_points) AS BIGINT) AS n_points,
         |  CAST(SUM(CAST(weight_sum AS DECIMAL(18,2))) AS DOUBLE) AS weight_sum,
         |  MIN(cell_x) AS cell_x_min, MAX(cell_x) AS cell_x_max,
         |  MIN(cell_y) AS cell_y_min, MAX(cell_y) AS cell_y_max
         |FROM d LEFT JOIN lab ON lab.id = d.id
         |GROUP BY 1""".stripMargin)),

    // Grid-bucketed spatial nearest-neighbor join: each event resolves
    // to its closest modal stop within radius 5 (3x3 cell probe, never
    // points x sites) — NULL site when uncovered.
    Query("geo_nearest_stop", geoNearestStop _,
      // Nearest-stop spatial join: floor-division cell ids, 3x3 probe,
      // (dist^2, site id) argmin, 1e-6-grid sqrt at the edge.
      Sql(s"""WITH valid AS ($servingValidSql),
         |coords AS (
         |  SELECT stop_code, x_utm, y_utm FROM (
         |    SELECT stop_code, x_utm, y_utm, COUNT(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY stop_code ORDER BY COUNT(*) DESC, x_utm, y_utm) AS rn
         |    FROM (
         |      SELECT user_id AS stop_code, value AS x_utm, CAST(prop_k AS DOUBLE) AS y_utm
         |      FROM valid WHERE event_type_norm IN ('CLICK','VIEW')
         |      UNION ALL
         |      SELECT user_id, value, CAST(prop_k AS DOUBLE)
         |      FROM valid WHERE event_type_norm NOT IN ('CLICK','VIEW')
         |    ) c
         |    WHERE x_utm BETWEEN 10 AND 400 AND y_utm BETWEEN 5 AND 95
         |    GROUP BY stop_code, x_utm, y_utm) t
         |  WHERE rn = 1),
         |sites AS (
         |  SELECT stop_code AS site_id, x_utm AS sx, y_utm AS sy,
         |    FLOOR(x_utm / 5.0) AS cx, FLOOR(y_utm / 5.0) AS cy
         |  FROM coords),
         |pts AS (
         |  SELECT event_id AS point_id, value AS px, CAST(prop_k AS DOUBLE) AS py
         |  FROM valid
         |  WHERE value BETWEEN 10 AND 400
         |    AND CAST(prop_k AS DOUBLE) BETWEEN 5 AND 95),
         |probes AS (
         |  SELECT point_id, px, py,
         |    FLOOR(px / 5.0) + ox.o AS cx, FLOOR(py / 5.0) + oy.o AS cy
         |  FROM pts,
         |    (SELECT UNNEST([-1, 0, 1]) AS o) ox,
         |    (SELECT UNNEST([-1, 0, 1]) AS o) oy),
         |cands AS (
         |  SELECT p.point_id, p.px, p.py, s.site_id,
         |    (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) AS d2
         |  FROM probes p JOIN sites s ON p.cx = s.cx AND p.cy = s.cy
         |  WHERE (p.px - s.sx) * (p.px - s.sx) + (p.py - s.sy) * (p.py - s.sy) <= 25.0),
         |best AS (
         |  SELECT point_id, site_id, FLOOR(sqrt(d2) * 1e6) / 1e6 AS dist
         |  FROM cands
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY d2, site_id) = 1)
         |SELECT p.point_id, p.px, p.py, b.site_id, b.dist
         |FROM pts p LEFT JOIN best b ON p.point_id = b.point_id""".stripMargin))
  )

  /** Fixed filter panel exercised by every serving query — mirrors the
    * reference's dynamic predicate builder semantics
    * (reference: src/webapp/query_service.py:65-107) with a pinned,
    * oracle-reproducible parameter set.
    */
  private val servingFilters = Serving.Filters(
    dateSkFrom = Some(20240105), dateSkTo = Some(20240128),
    dayTypes = Seq("LABORAL", "SABADO"),
    modes = Seq("CLICK", "VIEW", "PURCHASE"),
    hourFrom = Some(6), hourTo = Some(22))

  private def roundedSum(c: Column, name: String): Column =
    coalesce(round(sum(money(c)), 2), lit(0)).cast("double").as(name)

  /** Cross-table scalar panel (reference: query_service.py:260-290). */
  private def svcOverview(spark: SparkSession, dir: String): DataFrame = {
    val ev = servingValid(spark, dir).filter(Serving.predicate(servingFilters))
    val evAgg = ev.agg(count(lit(1)).as("events_observados"),
      roundedSum(col("value"), "events_estimados"))
    val ordAgg = t(spark, dir, "orders").agg(
      count(lit(1)).as("orders_observados"),
      roundedSum(col("o_totalprice"), "orders_estimados"))
    val liAgg = t(spark, dir, "lineitem").agg(
      roundedSum(col("l_quantity"), "lineitem_qty_total"))
    evAgg.crossJoin(ordAgg).crossJoin(liAgg)
  }

  /** Demand by day type (reference: query_service.py:293-311 — no
    * day-type clause; mode + hour + date-range filters apply).
    */
  private def svcDemandByDayType(spark: SparkSession, dir: String): DataFrame =
    servingValid(spark, dir)
      .filter(Serving.predicate(servingFilters.copy(dayTypes = Nil)))
      .groupBy(col("tipo_dia"))
      .agg(count(lit(1)).as("etapas_observadas"),
        roundedSum(col("value"), "etapas_estimadas"))

  /** Demand by mode (reference: query_service.py:314-333). */
  private def svcDemandByMode(spark: SparkSession, dir: String): DataFrame =
    servingValid(spark, dir)
      .filter(Serving.predicate(servingFilters))
      .groupBy(col("event_type_norm").as("mode_code"))
      .agg(count(lit(1)).as("etapas_observadas"),
        roundedSum(col("value"), "etapas_estimadas"))

  /** Top-N stops by summed boardings (reference: query_service.py:
    * 336-357). orderBy+limit plans as TakeOrderedAndProject — no
    * global sort at scale; extra ASC keys make the cut deterministic.
    */
  private def svcTopBoardings(spark: SparkSession, dir: String): DataFrame =
    servingValid(spark, dir)
      .filter(Serving.predicate(servingFilters))
      .groupBy(col("user_id").as("stop_code"), col("event_type_norm").as("mode_code"))
      .agg(roundedSum(col("value"), "subidas_promedio_total"))
      .orderBy(col("subidas_promedio_total").desc, col("stop_code"), col("mode_code"))
      .limit(20)

  /** Grid-bucketed nearest-stop resolution: every coordinate-bearing
    * valid event resolved to its closest modal stop location within
    * radius 5 (NULL when uncovered) — the spatial-join tier above
    * svc_map_points' exact-key join.
    */
  private def geoNearestStop(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialized pass over the cleanse chain (r16): `ev` feeds
    // the coord legs AND the point spine — un-checkpointed, the full
    // cleanse/quality scan executed three times inside one plan (two
    // complementary coord legs + points). Projected to the 5 columns
    // this query touches before the checkpoint.
    val ev = graft.operators.Ckpt.partitioned(
      servingValid(spark, dir).select(col("event_id"), col("user_id"),
        col("event_type_norm"), col("value"),
        col("prop_k").cast("double").as("__y")))
    // The two legs' predicates (isin / NOT isin) partition the non-NULL
    // event_type_norm rows, and everything downstream is an aggregate —
    // one IS NOT NULL filter produces the identical multiset in one
    // pass instead of two.
    val legs = ev.filter(col("event_type_norm").isNotNull)
      .select(col("user_id").as("stop_code"), col("value").as("x_utm"),
        col("__y").as("y_utm"))
      .filter(col("x_utm").between(10, 400) && col("y_utm").between(5, 95))
    val coords = Serving.modalValue(legs, "stop_code", Seq("x_utm", "y_utm"))
      .drop("modal_cnt")
    val points = ev.select(col("event_id"), col("value").as("x"),
        col("__y").as("y"))
      .filter(col("x").between(10, 400) && col("y").between(5, 95))
    SpatialJoin.nearestNeighbor(points, "event_id", "x", "y",
      coords, "stop_code", "x_utm", "y_utm", radius = 5.0)
  }

  /** Map points: modal coordinate per stop joined to aggregated
    * boardings, top-N (reference: query_service.py:151-257). The
    * union-all of two coordinate sources mirrors the reference's
    * board/alight legs; MIN replaces the reference's nondeterministic
    * ANY_VALUE(comuna) so the oracle can hash-match.
    */
  private def svcMapPoints(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialized pass over the cleanse chain (r16, same shape as
    // geoNearestStop): the un-checkpointed `ev` executed the cleanse 3x
    // (two complementary coord legs + boardings), and the two legs'
    // isin/NOT-isin predicates partition the non-NULL rows — a single
    // IS NOT NULL filter feeds the same aggregate.
    val ev = graft.operators.Ckpt.partitioned(
      servingValid(spark, dir).select(col("user_id"), col("event_type_norm"),
        col("value"), col("prop_k"), col("date_sk"), col("time_30m_sk"),
        col("tipo_dia")))
    val legs = ev.filter(col("event_type_norm").isNotNull)
      .select(col("user_id").as("stop_code"), col("value").as("x_utm"),
        col("prop_k").cast("double").as("y_utm"))
      .filter(col("x_utm").between(10, 400) && col("y_utm").between(5, 95))
    val coords = Serving.modalValue(legs, "stop_code", Seq("x_utm", "y_utm"))
      .drop("modal_cnt")
    val boardings = ev.filter(Serving.predicate(servingFilters))
      .groupBy(col("date_sk").as("service_date"),
        floor(col("time_30m_sk") / 2).cast("int").as("hour_of_day"),
        col("tipo_dia"), col("event_type_norm").as("mode_code"),
        col("user_id").as("stop_code"))
      .agg(min(col("prop_k")).as("comuna"),
        roundedSum(col("value"), "etapas_estimadas"),
        count(lit(1)).as("etapas_observadas"))
    boardings.join(broadcast(coords), Seq("stop_code"))
      .select(col("service_date"), col("hour_of_day"), col("tipo_dia"),
        col("mode_code"), col("stop_code"), col("comuna"),
        col("x_utm"), col("y_utm"),
        col("etapas_estimadas"), col("etapas_observadas"))
      .orderBy(col("etapas_estimadas").desc, col("stop_code"),
        col("service_date"), col("hour_of_day"), col("mode_code"))
      .limit(400)
  }

  /** Map points reprojected to WGS84 (reference: query_service.py:
    * 235-241, EPSG:32719 -> 4326). Synthetic x/y are scaled into the
    * Santiago UTM window first so the series runs in its accurate
    * domain; lat/lon rounded to 6 decimals like the reference.
    */
  private def svcUtmToWgs84(spark: SparkSession, dir: String): DataFrame = {
    val pts = svcMapPoints(spark, dir)
      .withColumn("x_utm_m", lit(200000.0) + col("x_utm") * 750.0)
      .withColumn("y_utm_m", lit(6200000.0) + col("y_utm") * 1500.0)
    pts.withColumn("lat", round(Geo.utmToLat(col("x_utm_m"), col("y_utm_m")), 6))
      .withColumn("lon", round(Geo.utmToLon(col("x_utm_m"), col("y_utm_m")), 6))
      .drop("x_utm_m", "y_utm_m")
  }

  /** 500 m grid-cell density over the map points (UTM-scaled exactly
    * like [[svcUtmToWgs84]]): the serving heat-map aggregation.
    */
  private def svcGridDensity(spark: SparkSession, dir: String): DataFrame = {
    val pts = svcMapPoints(spark, dir)
      .withColumn("x_utm_m", lit(200000.0) + col("x_utm") * 750.0)
      .withColumn("y_utm_m", lit(6200000.0) + col("y_utm") * 1500.0)
    Serving.gridDensity(pts, "x_utm_m", "y_utm_m", cell = 500.0,
      weightCol = "etapas_estimadas")
  }

  private def servingPredSql(includeDays: Boolean): String =
    "date_sk >= 20240105 AND date_sk <= 20240128" +
      (if (includeDays) " AND tipo_dia IN ('LABORAL','SABADO')" else "") +
      " AND event_type_norm IN ('CLICK','VIEW','PURCHASE')" +
      " AND CAST(FLOOR(time_30m_sk / 2) AS INTEGER) >= 6" +
      " AND CAST(FLOOR(time_30m_sk / 2) AS INTEGER) <= 22"

  private def sumDSql(c: String, name: String): String =
    s"CAST(COALESCE(ROUND(SUM(CAST($c AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS $name"

  private def mapPointsSql: String =
    s"""WITH valid AS ($servingValidSql),
       |coords AS (
       |  SELECT stop_code, x_utm, y_utm FROM (
       |    SELECT stop_code, x_utm, y_utm, COUNT(*) AS cnt,
       |      ROW_NUMBER() OVER (PARTITION BY stop_code ORDER BY COUNT(*) DESC, x_utm, y_utm) AS rn
       |    FROM (
       |      SELECT user_id AS stop_code, value AS x_utm, CAST(prop_k AS DOUBLE) AS y_utm
       |      FROM valid WHERE event_type_norm IN ('CLICK','VIEW')
       |      UNION ALL
       |      SELECT user_id, value, CAST(prop_k AS DOUBLE)
       |      FROM valid WHERE event_type_norm NOT IN ('CLICK','VIEW')
       |    ) c
       |    WHERE x_utm BETWEEN 10 AND 400 AND y_utm BETWEEN 5 AND 95
       |    GROUP BY stop_code, x_utm, y_utm) t
       |  WHERE rn = 1),
       |boardings AS (
       |  SELECT date_sk AS service_date,
       |    CAST(FLOOR(time_30m_sk / 2) AS INTEGER) AS hour_of_day,
       |    tipo_dia, event_type_norm AS mode_code, user_id AS stop_code,
       |    MIN(prop_k) AS comuna,
       |    ${sumDSql("value", "etapas_estimadas")},
       |    COUNT(*) AS etapas_observadas
       |  FROM valid WHERE ${servingPredSql(true)}
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT b.service_date, b.hour_of_day, b.tipo_dia, b.mode_code,
       |  b.stop_code, b.comuna, c.x_utm, c.y_utm,
       |  b.etapas_estimadas, b.etapas_observadas
       |FROM boardings b JOIN coords c ON c.stop_code = b.stop_code
       |ORDER BY b.etapas_estimadas DESC, b.stop_code, b.service_date,
       |  b.hour_of_day, b.mode_code
       |LIMIT 400""".stripMargin

  /** DuckDB twin of the Snyder inverse transverse Mercator columns
    * (graft.functions.Geo.utmToLat/utmToLon): the SAME expression tree
    * op for op — every +,-,*,/ in the same association order, every
    * Scala-precomputed coefficient injected as its shortest-round-trip
    * literal, and degrees() written as (rad * 180.0) / pi to replay
    * java.lang.Math.toDegrees exactly. The only cross-engine risk is a
    * last-ulp libm difference in sin/cos/tan/pow, masked by the 1e-6
    * serving rounding (verified hash-green at sf 0.001/0.01/0.1).
    */
  private def utmToWgs84Sql: String = {
    val k = Geo.sqlConstants()
    s"""WITH pts AS (${mapPointsSql.replace("\n", "\n  ")}),
       |m AS (SELECT *, 200000.0 + x_utm * 750.0 AS xm, 6200000.0 + y_utm * 1500.0 AS ym FROM pts),
       |s1 AS (SELECT *, ((ym - ${k("south_fn")}) / ${k("k0")}) / ${k("mu_denom")} AS mu FROM m),
       |s2 AS (SELECT *, mu + ${k("c2")} * sin(mu * 2) + ${k("c4")} * sin(mu * 4)
       |  + ${k("c6")} * sin(mu * 6) + ${k("c8")} * sin(mu * 8) AS p1 FROM s1),
       |s3 AS (SELECT *, sin(p1) AS sinp, cos(p1) AS cosp, tan(p1) AS tanp FROM s2),
       |s4 AS (SELECT *, ${k("ep2")} * cosp * cosp AS cc1, tanp * tanp AS tt1,
       |  1.0 - ${k("e2")} * sinp * sinp AS om FROM s3),
       |s5 AS (SELECT *, ${k("a")} / sqrt(om) AS n1, ${k("a_1me2")} / pow(om, 1.5) AS r1 FROM s4),
       |s6 AS (SELECT *, (xm - ${k("false_easting")}) / (n1 * ${k("k0")}) AS dd FROM s5),
       |s7 AS (SELECT *, dd * dd AS dd2 FROM s6),
       |s8 AS (SELECT *,
       |  p1 - (n1 * tanp / r1) * (dd2 / 2
       |    - (5.0 + 3.0 * tt1 + 10.0 * cc1 - 4.0 * cc1 * cc1 - ${k("ep2_9")}) * (dd2 * dd2) / 24
       |    + (61.0 + 90.0 * tt1 + 298.0 * cc1 + 45.0 * tt1 * tt1 - ${k("ep2_252")} - 3.0 * cc1 * cc1) * (dd2 * dd2 * dd2) / 720) AS latrad,
       |  ${k("lon0")} + (dd
       |    - (1.0 + 2.0 * tt1 + cc1) * (dd2 * dd) / 6
       |    + (5.0 - 2.0 * cc1 + 28.0 * tt1 - 3.0 * cc1 * cc1 + ${k("ep2_8")} + 24.0 * tt1 * tt1) * (dd2 * dd * dd2) / 120) / cosp AS lonrad
       |  FROM s7)
       |SELECT service_date, hour_of_day, tipo_dia, mode_code, stop_code, comuna,
       |  x_utm, y_utm, etapas_estimadas, etapas_observadas,
       |  ROUND(latrad * 180.0 / ${k("pi")}, 6) AS lat,
       |  ROUND(lonrad * 180.0 / ${k("pi")}, 6) AS lon
       |FROM s8""".stripMargin
  }
}
