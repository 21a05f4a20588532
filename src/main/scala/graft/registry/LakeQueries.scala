package graft
package registry

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._

import Shared._

/** Lakehouse layers: the TPC-H flagships, silver cleansing and quality
  * gates, gold dimensions, SCD history, as-of joins and facts, and the
  * table profiles and audits over them.
  */
private[graft] object LakeQueries {

  def records: Seq[Query] = Seq(
    Query("q1_agg", q1Agg _, Sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Query("q5_local_supplier", q5LocalSupplier _, Sql("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)),

    Query("silver_cleanse_events", cleanseEvents _, Sql(cleanseEventsSql(""))),

    Query("silver_quality_valid", ((s: SparkSession, d: String) =>
      QualityGate.valid(cleanseEvents(s, d), eventRules)),
      Sql(s"SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()}) WHERE reason_code IS NULL")),

    Query("silver_quality_quarantine", ((s: SparkSession, d: String) =>
      QualityGate.quarantine(cleanseEvents(s, d), eventRules)),
      Sql(s"SELECT * FROM (${qualityAnnotatedSql()}) WHERE reason_code IS NOT NULL")),

    Query("silver_quality_report", ((s: SparkSession, d: String) =>
      QualityGate.report(cleanseEvents(s, d), eventRules)),
      Sql(s"""SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
         |FROM (${qualityAnnotatedSql()}) GROUP BY 1""".stripMargin)),

    Query("silver_unpivot_measures", ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure_name", "measure_value")),
      Sql("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure_name, l_quantity AS measure_value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin)),

    // Leg-style grouped unpivot with the reference's empty-slot drop
    // (reference: src/silver/transforms.py:516-558). One scan +
    // explode of per-leg structs — the reference's 4-way UNION shape
    // would scan the fact once per leg.
    Query("silver_unpivot_legs", ((s: SparkSession, d: String) => {
      val legs = array(
        struct(lit(1).as("leg_seq"), col("l_returnflag").as("leg_attr"),
          col("l_quantity").as("leg_value")),
        struct(lit(2).as("leg_seq"), col("l_linestatus").as("leg_attr"),
          col("l_extendedprice").as("leg_value")),
        struct(lit(3).as("leg_seq"),
          when(col("l_returnflag") === "N", lit(null).cast("string"))
            .otherwise(col("l_returnflag")).as("leg_attr"),
          when(col("l_tax") === 0.0, lit(null).cast("double"))
            .otherwise(col("l_tax")).as("leg_value")))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), explode(legs).as("leg"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("leg.leg_seq").as("leg_seq"), col("leg.leg_attr").as("leg_attr"),
          col("leg.leg_value").as("leg_value"))
        .filter(col("leg_attr").isNotNull || col("leg_value").isNotNull)
    }),
      Sql("""SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 1 AS leg_seq, l_returnflag AS leg_attr, l_quantity AS leg_value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 2, l_linestatus, l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 3,
        |    CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END,
        |    CASE WHEN l_tax = 0 THEN NULL ELSE l_tax END
        |  FROM lineitem)
        |WHERE leg_attr IS NOT NULL OR leg_value IS NOT NULL""".stripMargin)),

    Query("gold_dim_date", ((s: SparkSession, d: String) =>
      Dims.dimDate(t(s, d, "orders"), col("o_orderdate"))),
      Sql("""WITH b AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS d0, CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
        |days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS full_date FROM b)
        |SELECT
        |  CAST(year(full_date)*10000 + month(full_date)*100 + day(full_date) AS INTEGER) AS date_sk,
        |  full_date,
        |  CAST(year(full_date) AS INTEGER) AS year,
        |  CAST(month(full_date) AS INTEGER) AS month,
        |  CAST(day(full_date) AS INTEGER) AS day,
        |  CAST(weekofyear(full_date) AS INTEGER) AS iso_week,
        |  CAST(isodow(full_date) AS INTEGER) AS iso_dow,
        |  isodow(full_date) >= 6 AS is_weekend,
        |  strftime(full_date, '%Y-%m') AS year_month,
        |  CASE WHEN isodow(full_date) = 7 THEN 'DOMINGO'
        |       WHEN isodow(full_date) = 6 THEN 'SABADO'
        |       ELSE 'LABORAL' END AS tipo_dia
        |FROM days""".stripMargin)),

    Query("gold_dim_time_30m", ((s: SparkSession, d: String) => Dims.dimTime30m(s)), Sql("""SELECT CAST(i AS INTEGER) AS time_30m_sk,
        |  printf('%02d:%02d:00', i//2, (i%2)*30) AS start_time,
        |  printf('%02d:%02d:00', ((i+1)//2)%24, ((i+1)%2)*30) AS end_time,
        |  CAST(i//2 AS INTEGER) AS hour,
        |  CAST((i%2)*30 AS INTEGER) AS minute,
        |  printf('%02d:%02d', i//2, (i%2)*30) AS label
        |FROM range(48) t(i)""".stripMargin)),

    Query("gold_dim_lookup", ((s: SparkSession, d: String) =>
      Dims.lookupDim(t(s, d, "orders"), "o_orderpriority", "priority_sk", "priority_name")),
      Sql("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority_name) AS INTEGER) AS priority_sk, priority_name
        |FROM (SELECT DISTINCT TRIM(o_orderpriority) AS priority_name FROM orders
        |      WHERE o_orderpriority IS NOT NULL AND TRIM(o_orderpriority) <> '')""".stripMargin)),

    // Kimball junk dimension: distinct flag combos with dense SKs.
    Query("gold_junk_dim", ((s: SparkSession, d: String) =>
      Dims.junkDim(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "junk_sk")),
      Sql("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_returnflag, l_linestatus) AS INTEGER) AS junk_sk,
        |  l_returnflag, l_linestatus
        |FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)""".stripMargin)),

    Query("gold_dedup_grain", ((s: SparkSession, d: String) =>
      Dedup.latestByGrain(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id"))),
      Sql(dedupGrainSql)),

    // The reference's grain-index validation as a relational audit:
    // the deduped fact must have ZERO duplicate grain keys (empty
    // output = pass — the end-to-end proof the dedup holds its
    // declared grain).
    Query("audit_grain_unique", ((s: SparkSession, d: String) =>
      Audit.grainViolations(
        Dedup.latestByGrain(t(s, d, "events"),
          grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
        Seq("user_id", "event_type"))),
      // Empty on both engines: the deduped fact holds its declared
      // grain (the reference's unique-grain-index assertion).
      Sql(s"""SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM ($dedupGrainSql)
         |GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin)),

    // Does user_id determine event_type? Measured, not assumed — the
    // denormalization-safety audit (here loudly violated: users mix
    // event types, which is the finding).
    Query("audit_fd_check", ((s: SparkSession, d: String) =>
      Audit.fdCheck(t(s, d, "events"), "user_id", "event_type")),
      // Two-phase exact distinct per key; worst key = struct-max of
      // (n distinct, key) — ties to the largest key on both engines.
      Sql("""WITH pk AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM (SELECT DISTINCT user_id,
        |          COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS v
        |        FROM events WHERE user_id IS NOT NULL)
        |  GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(CASE WHEN COUNT(*) > 0 THEN COUNT(*) END AS DOUBLE) AS violation_share,
        |  MAX({'nd': nd, 'k': k}).nd AS max_distinct_dependents,
        |  MAX({'nd': nd, 'k': k}).k AS worst_key
        |FROM pk""".stripMargin)),

    Query("gold_scd2_build", scd2User _, Sql(scd2UserSql)),

    // SCD TYPE 3 — current + previous attribute value per key with
    // run-start timestamps (Kimball's alternate-reality column):
    // lag-change runs, last two collapsed by conditional aggregate.
    Query("gold_scd3_current_prev", ((s: SparkSession, d: String) =>
      Scd2.scd3CurrentPrev(
        t(s, d, "events").filter(col("ts").isNotNull &&
          col("user_id").isNotNull && col("event_type").isNotNull),
        "user_id", "ts", "event_id",
        upper(trim(col("event_type"))))),
      // Scd2.scd3CurrentPrev mirrored: lag-change flag, running-sum run
      // ids, per-run min collapse, last-two conditional aggregate.
      Sql("""WITH r0 AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS attr
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |ch AS (
        |  SELECT *, CASE WHEN LAG(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                   OR LAG(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> attr
        |            THEN 1 ELSE 0 END AS chg
        |  FROM r0),
        |rn AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS run
        |  FROM ch),
        |pr AS (
        |  SELECT user_id, run, MIN(ts) AS since, MIN(attr) AS value
        |  FROM rn GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY run DESC) AS rk
        |  FROM pr)
        |SELECT user_id,
        |  MAX(CASE WHEN rk = 1 THEN value END) AS current_value,
        |  MAX(CASE WHEN rk = 1 THEN since END) AS current_since,
        |  MAX(CASE WHEN rk = 2 THEN value END) AS prev_value,
        |  MAX(CASE WHEN rk = 2 THEN since END) AS prev_since,
        |  CAST(MAX(run) AS BIGINT) AS n_runs
        |FROM rk WHERE rk <= 2 GROUP BY 1""".stripMargin)),

    Query("gold_scd2_incremental", scd2UserIncremental _,
      // The incremental load must reproduce the full rebuild exactly.
      Sql(scd2UserSql)),

    // Snapshot-diff SCD2: the batch is the COMPLETE universe, so
    // absence is deletion — current versions of vanished keys expire
    // at asOf−1; present keys take the applyChanges path.
    Query("gold_scd2_snapshot", scd2UserSnapshot _, Sql(scd2SnapshotSql)),

    Query("gold_asof_join", asofEvents _, Sql(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    Query("gold_asof_merge_scan", asofEventsMergeScan _,
      // Identical semantics through the merge-scan physical path.
      Sql(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    // The same resolution through the CUSTOM CATALYST OPERATOR
    // (graft.plans.MergeAsOf: logical node + planner strategy +
    // merge SparkPlan registered via SparkSessionExtensions): one
    // exchange per side, zero pair materialization, zero window
    // state — must produce identical rows, so it shares the
    // gold_asof_join oracle.
    Query("gold_asof_custom_exec", ((s: SparkSession, d: String) => {
      val dim = scd2User(s, d)
        .withColumnRenamed("user_id", "bk_user_id")
        .withColumnRenamed("event_type", "segment")
        .select("bk_user_id", "segment", "valid_from", "is_current")
      val fact = t(s, d, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
      graft.plans.MergeAsOf.join(fact, dim,
          Seq("user_id"), Seq("bk_user_id"), "event_dt", "valid_from")
        .select("event_id", "user_id", "event_dt", "segment", "valid_from",
          "is_current")
    }),
      // The custom-operator twin must equal the interval join row for
      // row on the contiguous SCD2 chain — same oracle as the others.
      Sql(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    // Nearest-snapshot as-of (merge_asof direction='nearest'): each
    // event takes the CLOSEST dim version start in either direction,
    // backward on ties, NULL beyond the 30-day tolerance.
    Query("gold_asof_nearest", ((s: SparkSession, d: String) => {
      val dim = scd2User(s, d)
        .withColumnRenamed("user_id", "bk_user_id")
        .withColumnRenamed("event_type", "segment")
        .select("bk_user_id", "segment", "valid_from")
      val fact = t(s, d, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
      AsOfJoin.nearest(fact, dim, "user_id", "bk_user_id", col("event_dt"),
        "valid_from", toleranceDays = Some(30))
    }),
      // Nearest semantics replayed as an explicit argmin: every version
      // within tolerance ranked by (distance, valid_from) per fact row
      // (fid = any bijection onto fact rows; NULL event_ids keep their
      // own row). Tie at equal distance → smaller valid_from = backward,
      // the engine's documented rule.
      Sql(s"""WITH dim AS (
         |  SELECT user_id AS bk_user_id, event_type AS segment, valid_from
         |  FROM ($scd2UserSql)),
         |f AS (
         |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_dt,
         |    ROW_NUMBER() OVER () AS fid
         |  FROM events),
         |j AS (
         |  SELECT f.event_id, f.user_id, f.event_dt, f.fid,
         |    d.segment, d.valid_from,
         |    CAST(ABS(datediff('day', d.valid_from, f.event_dt)) AS INTEGER) AS dist,
         |    CASE WHEN d.valid_from <= f.event_dt THEN 'backward' ELSE 'forward' END AS dir
         |  FROM f LEFT JOIN dim d
         |    ON d.bk_user_id = f.user_id
         |   AND ABS(datediff('day', d.valid_from, f.event_dt)) <= 30),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fid ORDER BY dist, valid_from) AS rn
         |  FROM j)
         |SELECT event_id, user_id, event_dt, segment, valid_from,
         |  CASE WHEN valid_from IS NULL THEN NULL ELSE dist END AS asof_dist_days,
         |  CASE WHEN valid_from IS NULL THEN NULL ELSE dir END AS asof_dir
         |FROM r WHERE rn = 1""".stripMargin)),

    Query("gold_fct_star", fctStar _, Sql(s"""WITH staged AS MATERIALIZED (
         |  SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()})
         |  WHERE reason_code IS NULL AND user_id IS NOT NULL),
         |deduped AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged) WHERE rn = 1),
         |etype AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_type_name) AS INTEGER) AS event_type_sk, event_type_name
         |  FROM (SELECT DISTINCT TRIM(event_type_norm) AS event_type_name FROM (${cleanseEventsSql("")})
         |        WHERE event_type_norm IS NOT NULL AND TRIM(event_type_norm) <> '')),
         |dim_user AS MATERIALIZED (
         |  SELECT user_id AS bk_user_id, event_type AS segment, valid_from, valid_to
         |  FROM ($scd2UserSql))
         |SELECT d.date_sk, d.time_30m_sk, d.user_id, t.event_type_sk, d.tipo_dia,
         |  u.segment, u.valid_from AS segment_valid_from,
         |  d.event_id, d.value, d.prop_k
         |FROM deduped d
         |LEFT JOIN etype t ON t.event_type_name = d.event_type_norm
         |LEFT JOIN dim_user u ON u.bk_user_id = d.user_id
         |  AND u.valid_from <= CAST(STRPTIME(CAST(d.date_sk AS VARCHAR), '%Y%m%d') AS DATE)
         |  AND (u.valid_to IS NULL OR CAST(STRPTIME(CAST(d.date_sk AS VARCHAR), '%Y%m%d') AS DATE) <= u.valid_to)""".stripMargin)),

    // Data-Vault link build over the customer↔supplier relationship:
    // deterministic md5 hub/link hash keys, first-seen + row-count
    // satellite seed, one partial-agg shuffle on the key pair.
    Query("gold_dv_link", ((s: SparkSession, d: String) =>
      Star.dataVaultLink(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey")),
        "o_custkey", "l_suppkey", "o_orderdate")),
      // Star.dataVaultLink mirrored: the same key-pair collapse, md5
      // hub/link hashes over the '|'-joined rendered keys.
      Sql("""WITH rel AS (
        |  SELECT o_custkey AS left_key, l_suppkey AS right_key, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |g AS (
        |  SELECT left_key, right_key, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    MIN(o_orderdate) AS first_seen
        |  FROM rel GROUP BY 1, 2)
        |SELECT
        |  md5(concat_ws('|',
        |    COALESCE(CAST(left_key AS VARCHAR), '<NULL>'),
        |    COALESCE(CAST(right_key AS VARCHAR), '<NULL>'))) AS link_hash,
        |  md5(COALESCE(CAST(left_key AS VARCHAR), '<NULL>')) AS hub_left_hash,
        |  md5(COALESCE(CAST(right_key AS VARCHAR), '<NULL>')) AS hub_right_hash,
        |  left_key, right_key, first_seen, n_rows
        |FROM g""".stripMargin)),

    Query("gold_merge_grain", mergeGrain _, Sql(s"""WITH staged AS (
         |  SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()})
         |  WHERE reason_code IS NULL AND user_id IS NOT NULL),
         |ded AS (
         |  SELECT * EXCLUDE (rn) FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged) WHERE rn = 1),
         |ded_old AS (
         |  SELECT * EXCLUDE (rn) FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged WHERE event_id < 5000) WHERE rn = 1)
         |SELECT * FROM ded_old
         |UNION ALL
         |SELECT d.* FROM ded d ANTI JOIN ded_old o
         |  USING (user_id, date_sk, time_30m_sk, event_type_norm)""".stripMargin)),

    // Cut-replacement load (cleanup_cut.sql): a stale half-load of the
    // lake, with the final week's cuts fully rebuilt and swapped in —
    // untouched cuts keep their stale rows, replaced cuts carry
    // exactly the incoming batch.
    Query("gold_cut_replace", ((s: SparkSession, d: String) => {
      val cleansed = cleanseEvents(s, d)
      val stale = cleansed.filter(col("event_id") % 2 === 0)
      val incoming = cleansed.filter(col("date_sk") >= 20240122)
      Merge.replaceCut(stale, incoming, "date_sk")
    }),
      Sql(s"""WITH c AS (${cleanseEventsSql("")}),
         |stale AS (SELECT * FROM c WHERE event_id % 2 = 0),
         |inc AS (SELECT * FROM c WHERE date_sk >= 20240122)
         |SELECT * FROM stale s
         |WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.date_sk = s.date_sk)
         |UNION ALL
         |SELECT * FROM inc""".stripMargin)),

    // Snapshot CDC: the per-user latest-state snapshot before the
    // 2024-01-15 cut diffed against the full-range snapshot — INSERT/
    // UPDATE/DELETE delta rows, one co-keyed full-outer join.
    Query("gold_snapshot_diff", ((s: SparkSession, d: String) => {
      def snap(f: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        f.filter(col("user_id").isNotNull)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"),
            upper(trim(col("event_type"))).as("event_type"), col("value"))
      }
      val ev = t(s, d, "events")
      Cdc.snapshotDiff(
        snap(ev.filter(col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))),
        snap(ev), keys = Seq("user_id"), attrs = Seq("event_type", "value"))
    }),
      Sql("""WITH so AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-15 00:00:00')
        |  WHERE rn = 1),
        |sn AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id IS NOT NULL)
        |  WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT user_id,
        |    CASE WHEN o.user_id IS NULL THEN 'INSERT'
        |         WHEN n.user_id IS NULL THEN 'DELETE'
        |         WHEN (o.event_type IS DISTINCT FROM n.event_type)
        |           OR (o.value IS DISTINCT FROM n.value) THEN 'UPDATE'
        |    END AS change_type,
        |    o.event_type AS old_event_type, n.event_type AS new_event_type,
        |    o.value AS old_value, n.value AS new_value
        |  FROM so o FULL OUTER JOIN sn n USING (user_id))
        |WHERE change_type IS NOT NULL""".stripMargin)),

    // Point-in-time SCD2 lookup: the user dimension as of 2024-01-15 —
    // the covering version per key, a pure filter over the dim.
    Query("gold_scd2_pit", ((s: SparkSession, d: String) =>
      Scd2.asOf(scd2User(s, d), lit("2024-01-15").cast("date"))),
      // The dim as of a date = versions whose interval covers it.
      Sql(s"""SELECT * FROM ($scd2UserSql)
         |WHERE valid_from <= DATE '2024-01-15'
         |  AND (valid_to IS NULL OR valid_to >= DATE '2024-01-15')""".stripMargin)),

    // Late-arriving dim: resolve orders against the subset of customer
    // that has "arrived" (custkey % 10 != 0 — the rest are late), park
    // misses on the Kimball unknown member (-1), then repair ONLY the
    // parked rows once the full dim lands.
    Query("gold_late_arriving", ((s: SparkSession, d: String) => {
      val fact = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val early = t(s, d, "customer").filter(col("c_custkey") % 10 =!= 0)
      val phase1 = Star.resolveOrUnknown(fact, early, "o_custkey", "c_custkey", "cust_sk")
      Star.repairUnknown(phase1, t(s, d, "customer"), "o_custkey", "c_custkey", "cust_sk")
    }),
      Sql("""SELECT o.o_orderkey, o.o_custkey,
        |  COALESCE(cf.c_custkey, -1) AS cust_sk,
        |  ce.c_custkey IS NULL AS was_late
        |FROM orders o
        |LEFT JOIN (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0) ce
        |  ON o.o_custkey = ce.c_custkey
        |LEFT JOIN customer cf ON o.o_custkey = cf.c_custkey""".stripMargin)),

    // Accumulating snapshot: order lifecycle milestones from lineitem
    // (first/last ship per order, exact qty totals) + lag spans, with
    // unshipped orders kept via the LEFT join.
    Query("fct_accumulating_snapshot", ((s: SparkSession, d: String) =>
      Star.accumulatingSnapshot(
          t(s, d, "orders").select(col("o_orderkey"),
            to_date(col("o_orderdate")).as("order_date"), col("o_orderstatus")),
          t(s, d, "lineitem"), "o_orderkey", "l_orderkey", "l_shipdate", "l_quantity")
        .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
        .withColumn("days_to_first_ship",
          datediff(col("first_ship_date"), col("order_date")))
        .withColumn("ship_span_days",
          datediff(col("last_ship_date"), col("first_ship_date")))),
      Sql("""SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
        |  o.o_orderstatus, f.first_ship_date, f.last_ship_date,
        |  COALESCE(f.n_lines, 0) AS n_lines, f.total_qty,
        |  CAST(date_diff('day', CAST(o.o_orderdate AS DATE), f.first_ship_date)
        |       AS INTEGER) AS days_to_first_ship,
        |  CAST(date_diff('day', f.first_ship_date, f.last_ship_date)
        |       AS INTEGER) AS ship_span_days
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey,
        |    MIN(CAST(l_shipdate AS DATE)) AS first_ship_date,
        |    MAX(CAST(l_shipdate AS DATE)) AS last_ship_date,
        |    COUNT(*) AS n_lines,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1) f ON o.o_orderkey = f.l_orderkey""".stripMargin)),

    // Bridge allocation: order totalprice spread over its line items
    // by exact-decimal extendedprice weights.
    Query("gold_bridge_alloc", ((s: SparkSession, d: String) =>
      Star.bridgeAllocation(
          t(s, d, "orders"), t(s, d, "lineitem"),
          "o_orderkey", "l_orderkey", "o_totalprice", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("weight"), col("allocated"))),
      Sql("""WITH d AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    l_extendedprice / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_orderkey) AS DOUBLE) AS weight
        |  FROM lineitem)
        |SELECT d.l_orderkey, d.l_linenumber, d.l_extendedprice, d.weight,
        |  o.o_totalprice * d.weight AS allocated
        |FROM d JOIN orders o ON d.l_orderkey = o.o_orderkey""".stripMargin)),

    // Periodic snapshot: per-customer monthly order activity from the
    // first active month, quiet months zero-filled with the balance
    // carried forward.
    Query("fct_periodic_snapshot", ((s: SparkSession, d: String) =>
      Star.periodicSnapshot(t(s, d, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice")),
      Sql("""WITH monthly AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1, 2),
        |mx AS (SELECT MAX(month) AS max_month FROM monthly),
        |spans AS (SELECT o_custkey, MIN(month) AS first_month
        |          FROM monthly GROUP BY 1),
        |grid AS (
        |  SELECT s.o_custkey,
        |    CAST(UNNEST(generate_series(s.first_month, mx.max_month,
        |                                INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM spans s, mx)
        |SELECT g.o_custkey, g.month,
        |  COALESCE(m.n_orders, 0) AS n_orders,
        |  CAST(COALESCE(m.spend, 0) AS DOUBLE) AS month_spend,
        |  CAST(SUM(COALESCE(m.spend, 0)) OVER (
        |    PARTITION BY g.o_custkey ORDER BY g.month) AS DOUBLE) AS cum_spend
        |FROM grid g
        |LEFT JOIN monthly m ON g.o_custkey = m.o_custkey AND g.month = m.month""".stripMargin)),

    // Referential-integrity audit over the star's FK edges.
    Query("audit_fk_integrity", ((s: SparkSession, d: String) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      Audit.fkIntegrityAll(Seq(
        (li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"),
        (li, "l_partkey", t(s, d, "part"), "p_partkey", "lineitem.l_partkey->part"),
        (li, "l_suppkey", t(s, d, "supplier"), "s_suppkey", "lineitem.l_suppkey->supplier"),
        (o, "o_custkey", t(s, d, "customer"), "c_custkey", "orders.o_custkey->customer")))
    }),
      Sql({
      def edge(factTable: String, fk: String, dimTable: String,
               dimKey: String, name: String): String =
        s"""SELECT '$name' AS relationship,
           |  COUNT(*) AS n_rows,
           |  COUNT(CASE WHEN f.$fk IS NULL THEN 1 END) AS n_null_fk,
           |  COUNT(CASE WHEN f.$fk IS NOT NULL AND d.k IS NULL THEN 1 END) AS n_orphans,
           |  100.0 * COUNT(CASE WHEN f.$fk IS NOT NULL AND d.k IS NULL THEN 1 END)
           |        / COUNT(*) AS orphan_pct
           |FROM $factTable f
           |LEFT JOIN (SELECT DISTINCT $dimKey AS k FROM $dimTable) d
           |  ON f.$fk = d.k""".stripMargin
      Seq(
        edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        edge("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        edge("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        edge("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"))
        .mkString("\nUNION ALL\n")
    })),

    // Point-in-interval RANGE JOIN via bucketized equi-join (the
    // technique Catalyst lacks a native strategy for — a raw theta
    // join plans BNLJ): open-order density per order date against
    // each order's [orderdate, last shipment] fulfillment interval.
    Query("join_range_interval", ((s: SparkSession, d: String) => {
      val epoch = lit("1970-01-01").cast("date")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("lo_d"))
      val shipEnd = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("hi_d"))
      val iv = orders
        .join(shipEnd, col("o_orderkey") === col("l_orderkey"))
        .select(datediff(col("lo_d"), epoch).cast("long").as("lo"),
          datediff(col("hi_d"), epoch).cast("long").as("hi"))
      val pts = orders.select(col("lo_d").as("d")).distinct()
        .withColumn("p", datediff(col("d"), epoch).cast("long"))
      RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi", bucketWidth = 64)
        .groupBy(col("d")).agg(count(lit(1)).as("n_open_orders"))
    }),
      // The oracle states the range join declaratively (DuckDB's
      // IEJoin executes it); the Spark side must reproduce it through
      // the bucketized equi-join + residual plan.
      Sql("""WITH iv AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS lo_d,
        |    MAX(CAST(l_shipdate AS DATE)) AS hi_d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |pts AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_open_orders
        |FROM pts JOIN iv ON iv.lo_d <= pts.d AND pts.d <= iv.hi_d
        |GROUP BY 1""".stripMargin)),

    // Exact ANALYZE-style quantile profile of the fact's numeric
    // columns: p25/50/75/90/99 per column, one scan, flat panel.
    Query("table_quantiles", ((s: SparkSession, d: String) =>
      Profiling.quantileProfile(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      Sql((for {
        c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        p <- Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      } yield
        s"""SELECT '$c' AS column_name, $p AS quantile,
           |  quantile_cont(CAST($c AS DOUBLE), $p) AS value FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // FD discovery over the order columns: every ordered pair's
    // violation count/share — o_orderkey→* holds (it is the key),
    // the reverse directions quantify how far they are from FDs.
    Query("audit_fd_discovery", ((s: SparkSession, d: String) =>
      Audit.fdDiscovery(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus"))),
      // Profiling.quantileProfile mirrored: quantile_cont per
      // (column, p), unioned flat.
      // Audit.fdDiscovery mirrored: per ordered pair the pair-distinct
      // → determinant-keyed count plan, unioned.
      Sql({
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus")
      (for { a <- cols; b <- cols if a != b } yield
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
           |  CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(nv AS BIGINT) AS n_violating_keys,
           |  CAST(nv AS DOUBLE)
           |    / (CASE WHEN n_keys > 0 THEN CAST(n_keys AS DOUBLE) END)
           |    AS violation_share,
           |  n_keys > 0 AND nv = 0 AS fd_holds
           |FROM (
           |  SELECT COUNT(*) AS n_keys,
           |    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS nv
           |  FROM (
           |    SELECT k, COUNT(*) AS nd FROM (
           |      SELECT DISTINCT CAST($a AS VARCHAR) AS k,
           |        COALESCE(CAST($b AS VARCHAR), '<NULL>') AS v
           |      FROM orders WHERE $a IS NOT NULL)
           |    GROUP BY 1))""".stripMargin)
        .mkString("\nUNION ALL\n")
    })),

    // Tukey-fence outlier audit over the same columns: exact
    // rank-bracket quartiles, 1.5x-IQR fences, per-column tail counts.
    Query("table_outlier_iqr", ((s: SparkSession, d: String) =>
      Profiling.outlierFences(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      // Profiling.outlierFences mirrored: unpivot, exact quartiles,
      // fixed-order fence arithmetic, tail counts CAST to BIGINT
      // (HUGEINT surfaces as float64 through the pandas fetch).
      Sql(("WITH l AS (\n" +
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
          s"  SELECT '$c' AS column_name, CAST($c AS DOUBLE) AS v FROM lineitem WHERE $c IS NOT NULL")
          .mkString("\n  UNION ALL\n") + "),\n" +
          """f AS (
          |  SELECT column_name,
          |    quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
          |  FROM l GROUP BY 1),
          |f2 AS (SELECT column_name, q1, q3, q3 - q1 AS iqr FROM f),
          |f3 AS (SELECT *, q1 - 1.5 * iqr AS fence_lo, q3 + 1.5 * iqr AS fence_hi FROM f2)
          |SELECT column_name, q1, q3, iqr, fence_lo, fence_hi,
          |  COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN v < fence_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
          |  CAST(SUM(CASE WHEN v > fence_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
          |  ROUND(100.0 * (SUM(CASE WHEN v < fence_lo THEN 1 ELSE 0 END)
          |    + SUM(CASE WHEN v > fence_hi THEN 1 ELSE 0 END)) / COUNT(*), 4) AS pct_outliers
          |FROM l JOIN f3 USING (column_name)
          |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin))),

    // Incremental JOIN-view maintenance (the join sibling of
    // gold_agg_incremental): orders >= 2000-01-01 arrive as the fact
    // delta, every 97th customer arrives re-segmented as the dim
    // delta; only touched custkey partitions recompute, the rest of
    // the stored view carries over. The oracle is the full recompute
    // of the upserted join — equality IS the correctness claim.
    Query("gold_join_incremental", ((s: SparkSession, d: String) => {
      val cut = lit("2000-01-01").cast("timestamp")
      val orders = t(s, d, "orders")
      val cust = t(s, d, "customer")
      val viewCols = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("c_name"), col("c_mktsegment"))
      val aOld = orders.filter(col("o_orderdate") < cut)
      val aDelta = orders.filter(col("o_orderdate") >= cut)
      val bOld = cust.withColumnRenamed("c_custkey", "o_custkey")
      val bDelta = bOld.filter(col("o_custkey") % 97 === 0)
        .withColumn("c_mktsegment", lit("CHANGED"))
      val view = aOld.join(bOld, Seq("o_custkey")).select(viewCols: _*)
      Merge.maintainJoinView(view,
        aOld, aDelta, Seq("o_orderkey"),
        bOld, bDelta, "o_custkey")
    }),
      // Merge.maintainJoinView: the oracle IS the full recompute of the
      // upserted join — incremental == full is the correctness claim.
      Sql("""WITH b AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 97 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN b ON b.c_custkey = o_custkey""".stripMargin)),

    Query("quality_threshold_gate", ((s: SparkSession, d: String) =>
      QualityGate.thresholdGate(cleanseEvents(s, d), eventRules,
        warnRate = 0.00001, failRate = 0.01)),
      Sql(s"""SELECT reason_code, n_rows,
         |  n_rows / SUM(n_rows) OVER () AS rate,
         |  CASE WHEN reason_code = 'VALID' THEN 'OK'
         |       WHEN n_rows / SUM(n_rows) OVER () >= 0.01 THEN 'FAIL'
         |       WHEN n_rows / SUM(n_rows) OVER () >= 0.00001 THEN 'WARN'
         |       ELSE 'OK' END AS status
         |FROM (SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
         |      FROM (${qualityAnnotatedSql()}) GROUP BY 1)""".stripMargin)),

    // Typed row contract over the RAW feed: per-field normalize (upper
    // -or-none) then validate, first-match reason codes, cross-field
    // at-least-one — the reference's Pydantic chain (contracts.py:
    // 47-297) as one codegen'd scan over every row.
    Query("contract_gate_events", ((s: SparkSession, d: String) => {
      val (fields, cross) = eventsContract
      RowContract.annotate(t(s, d, "events"), fields, cross)
    }),
      Sql("""WITH norm AS (
        |  SELECT event_id, ts, user_id,
        |    NULLIF(UPPER(TRIM(event_type)), '') AS event_type,
        |    value, props
        |  FROM events)
        |SELECT *,
        |  CASE WHEN user_id IS NULL THEN 'MISSING_ID'
        |       WHEN event_type IS NULL THEN 'MISSING_TYPE'
        |       WHEN event_type NOT IN ('CLICK','SIGNUP','ERROR','VIEW','PURCHASE') THEN 'BAD_TYPE'
        |       WHEN ts IS NULL THEN 'MISSING_TIMESTAMP'
        |       WHEN NOT COALESCE(value IS NULL OR value BETWEEN 0 AND 450, FALSE) THEN 'BAD_RANGE_VALUE'
        |       WHEN value IS NULL AND props IS NULL THEN 'EMPTY_PAYLOAD'
        |       ELSE NULL END AS reason_code
        |FROM norm""".stripMargin)),

    // Sampled contract pre-flight: the same contract over a bounded
    // DETERMINISTIC 2000-row sample (lowest md5(event_id) — a pure
    // function of the data, reproducible across engines/layouts; the
    // reference validates `validation_sample_size` rows through
    // Pydantic before the full pass, transforms.py:214-279). The
    // rank-take runs as TakeOrdered — no global sort.
    Query("contract_sample_gate", ((s: SparkSession, d: String) => {
      val (fields, cross) = eventsContract
      RowContract.sampleGate(t(s, d, "events"), fields, cross,
        keyCols = Seq("event_id"), n = 2000, warnRate = 0.00001, failRate = 0.01)
    }),
      Sql("""WITH s AS (
        |  SELECT * FROM events
        |  ORDER BY md5(COALESCE(CAST(event_id AS VARCHAR), '<NULL>')) LIMIT 2000),
        |norm AS (
        |  SELECT event_id, ts, user_id,
        |    NULLIF(UPPER(TRIM(event_type)), '') AS event_type,
        |    value, props
        |  FROM s),
        |ann AS (
        |  SELECT CASE WHEN user_id IS NULL THEN 'MISSING_ID'
        |       WHEN event_type IS NULL THEN 'MISSING_TYPE'
        |       WHEN event_type NOT IN ('CLICK','SIGNUP','ERROR','VIEW','PURCHASE') THEN 'BAD_TYPE'
        |       WHEN ts IS NULL THEN 'MISSING_TIMESTAMP'
        |       WHEN NOT COALESCE(value IS NULL OR value BETWEEN 0 AND 450, FALSE) THEN 'BAD_RANGE_VALUE'
        |       WHEN value IS NULL AND props IS NULL THEN 'EMPTY_PAYLOAD'
        |       ELSE NULL END AS reason_code
        |  FROM norm)
        |SELECT reason_code, n_rows,
        |  n_rows / SUM(n_rows) OVER () AS rate,
        |  CASE WHEN reason_code = 'VALID' THEN 'OK'
        |       WHEN n_rows / SUM(n_rows) OVER () >= 0.01 THEN 'FAIL'
        |       WHEN n_rows / SUM(n_rows) OVER () >= 0.00001 THEN 'WARN'
        |       ELSE 'OK' END AS status
        |FROM (SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
        |      FROM ann GROUP BY 1)""".stripMargin)),

    // Skew-hardened dedup — must equal gold_dedup_grain row for row
    // (same oracle), while no single task ever ranks a hot grain alone.
    Query("gold_dedup_grain_salted", ((s: SparkSession, d: String) =>
      Dedup.latestByGrainSalted(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id"))),
      // The salted variant is output-identical by construction.
      Sql(dedupGrainSql)),

    // Click-to-purchase attribution (batch twin of the stream-stream
    // watermarked join, StreamOps.attributionJoin): equi-key + a
    // both-ways-bounded event-time residual — a range join that plans
    // as a hash join on the key, never a cartesian. 30-minute window.
    Query("attrib_click_purchase", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      val clicks = ev.filter(upper(trim(col("event_type"))) === "CLICK")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(upper(trim(col("event_type"))) === "PURCHASE")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      purchases.as("p").join(clicks.as("c"),
          col("p.user_id") === col("c.user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1800 SECONDS") &&
            col("click_ts") <= col("purchase_ts"),
          "inner")
        .drop(col("c.user_id"))
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("purchase_value"), col("click_id"), col("click_ts"))
    }),
      Sql("""WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
        |clicks AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM ev WHERE UPPER(TRIM(event_type)) = 'CLICK'),
        |purchases AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value AS purchase_value
        |  FROM ev WHERE UPPER(TRIM(event_type)) = 'PURCHASE')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts, p.purchase_value,
        |       c.click_id, c.click_ts
        |FROM purchases p
        |JOIN clicks c
        |  ON p.user_id = c.user_id
        | AND c.click_ts >= p.purchase_ts - INTERVAL 1800 SECONDS
        | AND c.click_ts <= p.purchase_ts""".stripMargin)),

    // One-scan table statistics profile (the ANALYZE TABLE / catalog-
    // stats step of a lake load — the reference's build_catalog row
    // accounting, widened to column stats). Counts/nulls/min/max are
    // partial-aggregable scalars (map-side reduced to one row); the
    // two EXACT distincts are not — Catalyst plans them via Expand +
    // a shuffle keyed on the distinct values (the price of exactness,
    // paid here for oracle parity). When a profile must stay a true
    // 1-row mergeable reduce at any cardinality, that is exactly
    // what sketch_profile's HLL variant below is for.
    Query("table_profile_events", ((s: SparkSession, d: String) =>
      t(s, d, "events").agg(
        count(lit(1)).as("n_rows"),
        sum(col("user_id").isNull.cast("long")).as("user_id_nulls"),
        min(col("user_id")).as("user_id_min"),
        max(col("user_id")).as("user_id_max"),
        countDistinct(col("user_id")).as("user_id_distinct"),
        sum(col("value").isNull.cast("long")).as("value_nulls"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        countDistinct(col("event_type")).as("event_type_distinct"))),
      // SUM over integers is HUGEINT in DuckDB — cast every summed stat
      // to BIGINT or the driver's type-faithful hash can never match
      // (the sessionize_gap lesson, round 2).
      Sql("""SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
        |  MIN(user_id) AS user_id_min,
        |  MAX(user_id) AS user_id_max,
        |  COUNT(DISTINCT user_id) AS user_id_distinct,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        |  MIN(value) AS value_min,
        |  MAX(value) AS value_max,
        |  MIN(ts) AS ts_min,
        |  MAX(ts) AS ts_max,
        |  COUNT(DISTINCT event_type) AS event_type_distinct
        |FROM events""".stripMargin)),

    // END-TO-END bloom-prune proof under the driver gate: the
    // (bloom-pruned fact) ⋈ dim result must be IDENTICAL to the plain
    // join — no false negatives means the oracle is simply the join
    // without the bloom. The prune only cuts shuffle volume.
    Query("join_bloom_pruned", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val dim = ev.filter(col("user_id").isNotNull && col("user_id") % 7 === 0)
        .select(col("user_id")).distinct()
      val bloom = Prejoin.keyBloom(dim, "user_id", expectedItems = 100000)
      Prejoin.pruneFactByDimKeys(ev, "user_id", bloom)
        .join(dim, "user_id")
        .groupBy(upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum"))
    }),
      // The bloom prune must be invisible in the result — the oracle is
      // the SAME join with no bloom anywhere.
      Sql("""WITH dim AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE user_id IS NOT NULL AND user_id % 7 = 0)
        |SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events e JOIN dim USING (user_id)
        |GROUP BY 1""".stripMargin)),

    // Salted skew join: output must be EXACTLY the plain join's (the
    // oracle runs the unsalted join) — salting redistributes the
    // shuffle, never the semantics. user-dim enrichment keyed on the
    // (skewable) user_id, salt derived from event_id.
    Query("join_salted", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      val dim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_events"))
      Prejoin.saltedJoin(ev, dim, Seq("user_id"), "event_id", saltN = 8)
        .select(col("event_id"), col("user_id"), col("user_events"))
    }),
      // The oracle is the PLAIN join: salting must be invisible.
      Sql("""WITH ev AS (SELECT event_id, user_id FROM events WHERE user_id IS NOT NULL),
        |dim AS (SELECT user_id, COUNT(*) AS user_events FROM ev GROUP BY 1)
        |SELECT event_id, user_id, user_events
        |FROM ev JOIN dim USING (user_id)""".stripMargin)),

    // Shuffle-skew diagnosis: per-key row counts, the top-5 hottest
    // keys with their share and multiple-of-average — the measurement
    // that decides WHERE salting (gold_dedup_grain_salted) is worth
    // its overhead. One partial-aggregable shuffle + TakeOrdered.
    Query("skew_hot_keys", ((s: SparkSession, d: String) => {
      val perKey = t(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
      val tot = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("n_rows")).as("total_rows"))
      // NO rounding on the shares: the raw division chain is IEEE-
      // exact in any engine, while round-to-2dp diverges the moment a
      // quotient's shortest decimal lands on a .5 boundary (85 keys of
      // 10000 rows over 150 keys = exactly "1.275" — Spark rounds the
      // string up, DuckDB rounds the binary down).
      perKey.crossJoin(broadcast(tot))
        .withColumn("pct_of_total", lit(100.0) * col("n_rows") / col("total_rows"))
        .withColumn("x_avg",
          col("n_rows") / (col("total_rows") / col("n_keys").cast("double")))
        .select(col("user_id"), col("n_rows"), col("pct_of_total"), col("x_avg"))
        .orderBy(col("n_rows").desc, col("user_id"))
        .limit(5)
    }),
      Sql("""WITH k AS (
        |  SELECT user_id, COUNT(*) AS n_rows FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS total_rows
        |  FROM k)
        |SELECT user_id, n_rows,
        |  100.0 * n_rows / total_rows AS pct_of_total,
        |  n_rows / (total_rows / CAST(n_keys AS DOUBLE)) AS x_avg
        |FROM k, tot
        |ORDER BY n_rows DESC, user_id
        |LIMIT 5""".stripMargin)),

    // Equi-width value histogram (see Profiling.histogram) — the
    // distribution profile next to table_profile_events.
    Query("table_histogram_value", ((s: SparkSession, d: String) =>
      Profiling.histogram(t(s, d, "events"), "value", k = 20)),
      // Bucket arithmetic replayed op-for-op: FLOOR((v-mn)/((mx-mn)/k))
      // clamped to k-1 — IEEE subtract/divide/floor are engine-exact.
      Sql("""WITH b AS (
        |  SELECT MIN(value) AS mn, MAX(value) AS mx
        |  FROM events WHERE value IS NOT NULL)
        |SELECT
        |  CASE WHEN mx = mn THEN 0
        |       ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |  COUNT(*) AS n_rows,
        |  MIN(value) AS bucket_min,
        |  MAX(value) AS bucket_max
        |FROM events, b
        |WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // Pairwise Pearson correlation over the fact's measures — one
    // scan, exact DECIMAL moments, pair expansion on the 1-row panel.
    Query("table_corr_pairs", ((s: SparkSession, d: String) =>
      Profiling.corrPairs(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      // Variance-identity correlation replayed op-for-op: DECIMAL
      // moment sums (order-free), fixed CAST-to-DOUBLE op sequence,
      // IEEE-correctly-rounded sqrt (the anomaly_zscore convention).
      Sql(corrPairsOracleSql(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))),

    // First-order partial correlation: does quantity↔extendedprice
    // survive holding the per-unit tax fixed — the confounder audit
    // over the same one-scan moment panel as table_corr_pairs.
    Query("table_corr_partial", ((s: SparkSession, d: String) =>
      Profiling.partialCorr(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", "l_tax")),
      Sql(partialCorrOracleSql(
      "l_quantity", "l_extendedprice", "l_tax"))),

    // Spearman rank correlation (monotone association) between the
    // fact's quantity and price — doubled midranks over the
    // distinct-value panels through the two-phase prefix sum; exact
    // integer moments, one fixed-order double step at the edge.
    Query("table_corr_spearman", ((s: SparkSession, d: String) =>
      Profiling.spearmanPair(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice")),
      // Profiling.spearmanPair mirrored: doubled integer midranks per
      // distinct value, HUGEINT moments, one fixed-order double rho.
      Sql("""WITH pairs AS (
        |  SELECT l_quantity AS vx, l_extendedprice AS vy FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |px AS (SELECT vx, COUNT(*) AS nt FROM pairs GROUP BY 1),
        |rx AS (SELECT vx, 2*(SUM(nt) OVER (ORDER BY vx) - nt) + nt + 1 AS dx FROM px),
        |py AS (SELECT vy, COUNT(*) AS nt FROM pairs GROUP BY 1),
        |ry AS (SELECT vy, 2*(SUM(nt) OVER (ORDER BY vy) - nt) + nt + 1 AS dy FROM py),
        |j AS (SELECT dx, dy FROM pairs JOIN rx USING (vx) JOIN ry USING (vy)),
        |agg AS (SELECT COUNT(*) AS n, SUM(dx) AS sx, SUM(dy) AS sy,
        |  SUM(dx*dx) AS sxx, SUM(dy*dy) AS syy, SUM(dx*dy) AS sxy FROM j)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |  CAST(n AS BIGINT) AS n_pairs,
        |  (CAST(n*sxy AS DOUBLE) - CAST(sx*sy AS DOUBLE))
        |    / NULLIF(sqrt(CAST(n*sxx AS DOUBLE) - CAST(sx*sx AS DOUBLE))
        |        * sqrt(CAST(n*syy AS DOUBLE) - CAST(sy*sy AS DOUBLE)), 0) AS rho
        |FROM agg""".stripMargin)),

    // Kendall tau-b between two discrete ordinal measures —
    // concordant/discordant mass from the joint cell panel's
    // broadcast self-join (panel², never data²), tie-adjusted.
    Query("table_corr_kendall", ((s: SparkSession, d: String) =>
      Profiling.kendallTauB(t(s, d, "lineitem"),
        "l_quantity", "l_linenumber")),
      // Profiling.kendallTauB mirrored: joint-cell panel self-join for
      // concordant/discordant mass, exact margin tie terms, tau-b.
      Sql("""WITH cells AS (
        |  SELECT l_quantity AS cx, l_linenumber AS cy, COUNT(*) AS nc
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
        |  GROUP BY 1, 2),
        |pm AS (
        |  SELECT
        |    SUM(CASE WHEN b.cy > a.cy THEN CAST(a.nc AS HUGEINT) * b.nc END) AS c_mass,
        |    SUM(CASE WHEN b.cy < a.cy THEN CAST(a.nc AS HUGEINT) * b.nc END) AS d_mass
        |  FROM cells a JOIN cells b ON b.cx > a.cx),
        |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM cells),
        |tx AS (SELECT SUM(CAST(t AS HUGEINT)*(t-1)) AS tie_x2
        |  FROM (SELECT SUM(nc) AS t FROM cells GROUP BY cx)),
        |ty AS (SELECT SUM(CAST(t AS HUGEINT)*(t-1)) AS tie_y2
        |  FROM (SELECT SUM(nc) AS t FROM cells GROUP BY cy)),
        |fin AS (
        |  SELECT n,
        |    COALESCE(CAST(c_mass AS DOUBLE), 0.0) AS n_c,
        |    COALESCE(CAST(d_mass AS DOUBLE), 0.0) AS n_d,
        |    CAST(tie_x2 AS DOUBLE) AS tie_x2,
        |    CAST(tie_y2 AS DOUBLE) AS tie_y2,
        |    CAST(CAST(n AS HUGEINT)*(n-1) - tie_x2 AS DOUBLE) / 2.0 AS halfx,
        |    CAST(CAST(n AS HUGEINT)*(n-1) - tie_y2 AS DOUBLE) / 2.0 AS halfy
        |  FROM pm CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty)
        |SELECT 'l_quantity' AS col_x, 'l_linenumber' AS col_y,
        |  n AS n_rows, n_c, n_d, tie_x2, tie_y2,
        |  (n_c - n_d) / NULLIF(sqrt(halfx) * sqrt(halfy), 0) AS tau_b
        |FROM fin""".stripMargin)),

    // Missingness co-occurrence audit: do NULLs arrive together?
    // phi per column pair over one integer-moment scan.
    Query("table_missingness", ((s: SparkSession, d: String) =>
      Profiling.missingnessPairs(t(s, d, "events"),
        Seq("user_id", "event_type", "value", "props"))),
      Sql(missingnessOracleSql(
      Seq("user_id", "event_type", "value", "props")))),

    // Categorical-dependence audit: per-cell mutual-information panel
    // between day type and mode over the validated serving frame.
    Query("table_mutual_info", ((s: SparkSession, d: String) =>
      Profiling.mutualInfo(servingValid(s, d), "tipo_dia", "event_type_norm")),
      Sql(s"""WITH xy AS (
         |  SELECT tipo_dia AS x, event_type_norm AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
         |  FROM ($servingValidSql)
         |  WHERE tipo_dia IS NOT NULL AND event_type_norm IS NOT NULL
         |  GROUP BY 1, 2),
         |nx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY 1),
         |ny AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM xy),
         |cells AS (
         |  SELECT x, y, n_xy, n_x, n_y, n,
         |    FLOOR(LN(CAST(n_xy * n AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)) * 1e4) / 1e4 AS pmi
         |  FROM xy JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN nt)
         |SELECT x, y, n_xy, n_x, n_y, n, pmi,
         |  FLOOR((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) * pmi * 1e8) / 1e8 AS mi_term
         |FROM cells""".stripMargin)),

    // Chi-square independence test + Cramér's V over the same pair
    // the MI panel profiles — test statistic and normalized effect
    // size; share-space terms keep the §5 grid magnitude-safe.
    Query("table_chi2_assoc", ((s: SparkSession, d: String) =>
      Profiling.chi2Assoc(servingValid(s, d), "tipo_dia", "event_type_norm")),
      // Profiling.chi2Assoc mirrored: share-space cell terms on the
      // 1e-12 grid, DECIMAL(18,12) order-free sum, fixed-order chi2/V.
      Sql(chi2PairOracleSql(servingValidSql, "tipo_dia", "event_type_norm"))),

    // Pairwise Cramer's V association matrix over the serving frame's
    // categoricals - the categorical twin of table_corr_pairs.
    Query("table_cramers_pairs", ((s: SparkSession, d: String) =>
      Profiling.cramersVPairs(servingValid(s, d),
        Seq("tipo_dia", "event_type_norm", "prop_k"))),
      // Profiling.cramersVPairs mirrored: one chi2-pair statement per
      // column combination (generated from the SAME column list),
      // UNION ALL into the association matrix.
      Sql(Seq("tipo_dia", "event_type_norm", "prop_k").combinations(2)
        .map { case Seq(a, b) =>
          s"SELECT * FROM (${chi2PairOracleSql(servingValidSql, a, b)})" }
        .mkString("\nUNION ALL\n"))),

    // Shannon-entropy panel over the serving frame's categoricals.
    Query("table_entropy", ((s: SparkSession, d: String) =>
      Profiling.entropyProfile(servingValid(s, d),
        Seq("tipo_dia", "event_type_norm", "prop_k"))),
      Sql(Seq("tipo_dia", "event_type_norm", "prop_k").map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(MAX(n) AS BIGINT) AS n_values,
         |  CAST(MAX(k) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CAST(FLOOR((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
         |    * LN(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1e8) / 1e8
         |    AS DECIMAL(28,12))) AS DOUBLE) AS entropy_nats
         |FROM (
         |  SELECT cnt, SUM(cnt) OVER () AS n, COUNT(*) OVER () AS k
         |  FROM (SELECT CAST($c AS VARCHAR) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM (${servingValidSql}) WHERE $c IS NOT NULL GROUP BY 1))""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""))),

    // Type-inference audit over a simulated all-VARCHAR bronze frame:
    // per column the lexical-form match counts and the narrowest type
    // covering >= 99% of non-empty values — the evidence-derived
    // column spec the TRY_CAST coercion consumes. Anchored regex in
    // the cross-engine subset, never try_cast (whose string->number
    // edges differ across engines).
    Query("silver_type_infer", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val bronze = ev.select(
        col("event_id").cast("string").as("event_id"),
        col("user_id").cast("string").as("user_id"),
        money(col("value")).cast("string").as("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type"), col("props"))
      TypedCoerce.inferTypes(bronze,
        Seq("event_id", "user_id", "value", "ts", "event_type", "props"))
    }),
      // Type-inference replay: identical bronze stringification
      // (decimal-rendered doubles, strftime timestamps — floats are
      // never CAST-rendered, the tableDiff rule), same anchored
      // regexes, same >= threshold ladder.
      Sql({
      val cols = Seq("event_id", "user_id", "value", "ts", "event_type", "props")
      val bronzeSql =
          """SELECT CAST(event_id AS VARCHAR) AS event_id,
          |    CAST(user_id AS VARCHAR) AS user_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
          |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
          |    event_type, props
          |  FROM events""".stripMargin
      cols.map { c =>
        def cnt(pat: String) =
          s"CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' AND " +
            s"regexp_matches(TRIM($c), '$pat') THEN 1 ELSE 0 END) AS BIGINT)"
        val nb = cnt("^(true|false|TRUE|FALSE|True|False)$")
        val nl = cnt("^[+-]?[0-9]{1,18}$")
        val nd = cnt("^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?$")
        val ndt = cnt("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
        val nts = cnt("^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}")
        s"""SELECT '$c' AS column_name,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnull,
           |  $nb AS n_bool, $nl AS n_long, $nd AS n_double,
           |  $ndt AS n_date, $nts AS n_ts,
           |  CASE WHEN SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) = 0 THEN 'VARCHAR'
           |       WHEN CAST($nb AS DOUBLE) >= 0.99 * CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS DOUBLE) THEN 'BOOLEAN'
           |       WHEN CAST($nl AS DOUBLE) >= 0.99 * CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS DOUBLE) THEN 'BIGINT'
           |       WHEN CAST($nd AS DOUBLE) >= 0.99 * CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS DOUBLE) THEN 'DOUBLE'
           |       WHEN CAST($ndt AS DOUBLE) >= 0.99 * CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS DOUBLE) THEN 'DATE'
           |       WHEN CAST($nts AS DOUBLE) >= 0.99 * CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END) AS DOUBLE) THEN 'TIMESTAMP'
           |       ELSE 'VARCHAR' END AS suggested_type
           |FROM ($bronzeSql)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
    })),

    // Schema drift between two bronze drops (split at the 2024-01-15
    // cutover the producer changed its export on): the old drop ships
    // integer values, date-only timestamps and no props column — the
    // audit reads ADDED / TYPE_CHANGED / UNCHANGED plus null-rate
    // drift per column.
    Query("audit_schema_drift", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val cutoff = to_date(lit("2024-01-15"))
      val oldB = ev.filter(to_date(col("ts")) <= cutoff).select(
        col("event_id").cast("string").as("event_id"),
        col("user_id").cast("string").as("user_id"),
        floor(col("value")).cast("long").cast("string").as("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("ts"),
        col("event_type"))
      val newB = ev.filter(to_date(col("ts")) > cutoff).select(
        col("event_id").cast("string").as("event_id"),
        col("user_id").cast("string").as("user_id"),
        money(col("value")).cast("string").as("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type"), col("props"))
      TypedCoerce.schemaDrift(oldB, newB,
        Seq("event_id", "user_id", "value", "ts", "event_type"),
        Seq("event_id", "user_id", "value", "ts", "event_type", "props"))
    }),
      // TypedCoerce.schemaDrift mirrored: the inferTypes union per
      // drop, full-outer on column name, the same verdict ladder and
      // exact null-rate quotients (empty batch → rate 1.0).
      Sql({
      def inferSql(bronzeSql: String, cols: Seq[String]): String =
        cols.map { c =>
          def nnSum =
            s"SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' THEN 1 ELSE 0 END)"
          def cnt(pat: String) =
            s"CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) <> '' AND " +
              s"regexp_matches(TRIM($c), '$pat') THEN 1 ELSE 0 END) AS BIGINT)"
          val nb = cnt("^(true|false|TRUE|FALSE|True|False)$")
          val nl = cnt("^[+-]?[0-9]{1,18}$")
          val nd = cnt("^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?$")
          val ndt = cnt("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
          val nts = cnt("^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}")
          s"""SELECT '$c' AS column_name,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST($nnSum AS BIGINT) AS n_nonnull,
             |  CASE WHEN $nnSum = 0 THEN 'VARCHAR'
             |       WHEN CAST($nb AS DOUBLE) >= 0.99 * CAST($nnSum AS DOUBLE) THEN 'BOOLEAN'
             |       WHEN CAST($nl AS DOUBLE) >= 0.99 * CAST($nnSum AS DOUBLE) THEN 'BIGINT'
             |       WHEN CAST($nd AS DOUBLE) >= 0.99 * CAST($nnSum AS DOUBLE) THEN 'DOUBLE'
             |       WHEN CAST($ndt AS DOUBLE) >= 0.99 * CAST($nnSum AS DOUBLE) THEN 'DATE'
             |       WHEN CAST($nts AS DOUBLE) >= 0.99 * CAST($nnSum AS DOUBLE) THEN 'TIMESTAMP'
             |       ELSE 'VARCHAR' END AS suggested_type
             |FROM ($bronzeSql)""".stripMargin
        }.mkString("", "\nUNION ALL\n", "")
      val oldBronze =
          """SELECT CAST(event_id AS VARCHAR) AS event_id,
          |    CAST(user_id AS VARCHAR) AS user_id,
          |    CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS value,
          |    strftime(ts, '%Y-%m-%d') AS ts,
          |    event_type
          |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-15'""".stripMargin
      val newBronze =
          """SELECT CAST(event_id AS VARCHAR) AS event_id,
          |    CAST(user_id AS VARCHAR) AS user_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
          |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
          |    event_type, props
          |  FROM events WHERE CAST(ts AS DATE) > DATE '2024-01-15'""".stripMargin
      val oldInfer = inferSql(oldBronze,
        Seq("event_id", "user_id", "value", "ts", "event_type"))
      val newInfer = inferSql(newBronze,
        Seq("event_id", "user_id", "value", "ts", "event_type", "props"))
      s"""WITH oi AS ($oldInfer),
         |ni AS ($newInfer),
         |oo AS (
         |  SELECT column_name, suggested_type AS old_type,
         |    CASE WHEN n_rows = 0 THEN 1.0
         |         ELSE 1.0 - CAST(n_nonnull AS DOUBLE) / CAST(n_rows AS DOUBLE)
         |    END AS old_null_rate
         |  FROM oi),
         |nn AS (
         |  SELECT column_name, suggested_type AS new_type,
         |    CASE WHEN n_rows = 0 THEN 1.0
         |         ELSE 1.0 - CAST(n_nonnull AS DOUBLE) / CAST(n_rows AS DOUBLE)
         |    END AS new_null_rate
         |  FROM ni)
         |SELECT column_name, old_type, old_null_rate, new_type, new_null_rate,
         |  CASE WHEN old_type IS NULL THEN 'ADDED'
         |       WHEN new_type IS NULL THEN 'DROPPED'
         |       WHEN old_type <> new_type THEN 'TYPE_CHANGED'
         |       ELSE 'UNCHANGED' END AS change
         |FROM oo FULL OUTER JOIN nn USING (column_name)""".stripMargin
    })),

    // Most-common-values panel (the ANALYZE MCV statistic): top-5
    // values per column with exact counts + raw shares; two-phase
    // salted rank, never a global sort of a value panel.
    Query("table_topk_values", ((s: SparkSession, d: String) =>
      Profiling.topValues(t(s, d, "events"),
        Seq("event_type", "user_id", "props"), k = 5)),
      // MCV replay: per column top-5 by (count desc, value), raw
      // share quotients of exact longs.
      Sql(Seq("event_type", "user_id", "props").map { c =>
      s"""SELECT * FROM (
         |  SELECT '$c' AS column_name,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, value) AS INTEGER) AS rank,
         |    value, n_rows,
         |    CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) AS share
         |  FROM (SELECT CAST($c AS VARCHAR) AS value, CAST(COUNT(*) AS BIGINT) AS n_rows
         |        FROM events WHERE $c IS NOT NULL GROUP BY 1))
         |WHERE rank <= 5""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""))),

    // Interval-OVERLAP range join: same-customer order pairs whose
    // fulfillment windows intersect, counted per customer — both
    // sides bucket-exploded, pair ownership in the first shared
    // bucket (no distinct).
    Query("join_interval_overlap", ((s: SparkSession, d: String) => {
      val epoch = lit("1970-01-01").cast("date")
      val shipEnd = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("ship_end"))
      // the interval relation feeds BOTH join sides: materialize the
      // orders⋈shipEnd derivation once (each side previously re-ran
      // the lineitem aggregate + join through its own lineage)
      val iv = t(s, d, "orders")
        .join(shipEnd, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
          datediff(to_date(col("o_orderdate")), epoch).cast("long").as("lo"),
          datediff(col("ship_end"), epoch).cast("long").as("hi"))
        .ckptPartitioned()
      def side(suffix: String) = iv.select(col("cust").as(s"cust$suffix"),
        col("ok").as(s"ok$suffix"), col("lo").as(s"lo$suffix"),
        col("hi").as(s"hi$suffix"))
      RangeJoin.intervalOverlap(side("_a"), "lo_a", "hi_a",
          side("_b"), "lo_b", "hi_b", bucketWidth = 64)
        .filter(col("cust_a") === col("cust_b") && col("ok_a") < col("ok_b"))
        .groupBy(col("cust_a").as("custkey"))
        .agg(count(lit(1)).as("n_overlapping_pairs"))
    }),
      // HAVING mirrors the operator's malformed-interval contract: an
      // inverted window (last shipment before the order — a data
      // quirk) is not an interval and drops on BOTH engines.
      Sql("""WITH iv AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    CAST(o_orderdate AS DATE) AS lo_d, MAX(CAST(l_shipdate AS DATE)) AS hi_d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3
        |  HAVING MAX(CAST(l_shipdate AS DATE)) >= CAST(o_orderdate AS DATE))
        |SELECT a.cust AS custkey, CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
        |FROM iv a JOIN iv b ON a.cust = b.cust AND a.ok < b.ok
        |  AND a.lo_d <= b.hi_d AND b.lo_d <= a.hi_d
        |GROUP BY 1""".stripMargin)),

    // Bucketed snapshot reconciliation: the B side drops event 17 and
    // perturbs event 42's value — the diff must localize both.
    Query("audit_table_diff", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      val b = ev.filter(col("event_id") =!= 17)
        .withColumn("value",
          when(col("event_id") === 42, col("value") + 1).otherwise(col("value")))
      Audit.tableDiff(ev, b, "event_id", Seq("user_id", "event_type"), "value",
        nBuckets = 16)
    }),
      // md5-derived 32-bit digests summed per bucket (order-free) —
      // Spark's conv(hex,16,10) == DuckDB's CAST('0x…') ; the measure
      // reconciles as a DECIMAL sum, never a float-to-string render.
      Sql({
      def panelSql(src: String, suffix: String) =
        s"""SELECT
           |  CAST(concat('0x', substr(md5(COALESCE(CAST(event_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT) % 16 AS bucket,
           |  COUNT(*) AS n_rows_$suffix,
           |  CAST(SUM(CAST(concat('0x', substr(md5(concat_ws('|',
           |    COALESCE(CAST(event_id AS VARCHAR), '<NULL>'),
           |    COALESCE(CAST(user_id AS VARCHAR), '<NULL>'),
           |    COALESCE(CAST(event_type AS VARCHAR), '<NULL>'))), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum_$suffix,
           |  BIT_XOR(CAST(concat('0x', substr(md5(concat_ws('|',
           |    COALESCE(CAST(event_id AS VARCHAR), '<NULL>'),
           |    COALESCE(CAST(user_id AS VARCHAR), '<NULL>'),
           |    COALESCE(CAST(event_type AS VARCHAR), '<NULL>'))), 1, 15)) AS BIGINT)) AS xor_$suffix,
           |  SUM(CAST(value AS DECIMAL(28,6))) AS msum_$suffix
           |FROM $src GROUP BY 1""".stripMargin
      s"""WITH a AS (SELECT event_id, user_id, event_type, value FROM events),
         |b AS (
         |  SELECT event_id, user_id, event_type,
         |    CASE WHEN event_id = 42 THEN value + 1 ELSE value END AS value
         |  FROM events WHERE event_id <> 17),
         |pa AS (${panelSql("a", "a")}),
         |pb AS (${panelSql("b", "b")})
         |SELECT bucket,
         |  COALESCE(n_rows_a, 0) AS n_rows_a,
         |  COALESCE(n_rows_b, 0) AS n_rows_b,
         |  checksum_a, checksum_b,
         |  xor_a, xor_b,
         |  CAST(msum_a AS DOUBLE) AS measure_sum_a,
         |  CAST(msum_b AS DOUBLE) AS measure_sum_b,
         |  (COALESCE(n_rows_a, 0) = COALESCE(n_rows_b, 0)
         |   AND checksum_a IS NOT DISTINCT FROM checksum_b
         |   AND xor_a IS NOT DISTINCT FROM xor_b
         |   AND msum_a IS NOT DISTINCT FROM msum_b) AS is_match
         |FROM pa FULL OUTER JOIN pb USING (bucket)""".stripMargin
    })),

    // Equi-depth (quartile) histogram: ~n/4 rows per bucket however
    // skewed the column; exact-percentile thresholds broadcast.
    Query("table_histogram_equidepth", ((s: SparkSession, d: String) =>
      Profiling.histogramEquiDepth(t(s, d, "events"), "value", k = 4)),
      Sql("""WITH r AS (SELECT value FROM events WHERE value IS NOT NULL),
        |t AS (
        |  SELECT quantile_cont(value, 0.25) AS t1,
        |         quantile_cont(value, 0.5) AS t2,
        |         quantile_cont(value, 0.75) AS t3
        |  FROM r)
        |SELECT
        |  CASE WHEN value > t1 THEN 1 ELSE 0 END +
        |  CASE WHEN value > t2 THEN 1 ELSE 0 END +
        |  CASE WHEN value > t3 THEN 1 ELSE 0 END AS bucket,
        |  COUNT(*) AS n_rows,
        |  MIN(value) AS bucket_min,
        |  MAX(value) AS bucket_max
        |FROM r, t
        |GROUP BY 1""".stripMargin)),

    // Benford first-digit audit over the monetary measure — the
    // fabricated-data screen, log-free (CASE-ladder scale, literal
    // expected shares).
    Query("audit_benford_digits", ((s: SparkSession, d: String) =>
      Audit.benfordDigits(t(s, d, "events"), "value")),
      // CASE-ladder first digit (no log10/pow — the libm rule), VALUES
      // literals for the Benford shares, grid-quantized χ² total.
      Sql("""WITH vv AS (
        |  SELECT ABS(CAST(value AS DOUBLE)) AS v FROM events
        |  WHERE value IS NOT NULL AND ABS(CAST(value AS DOUBLE)) > 0),
        |s AS (
        |  SELECT v, CASE
        |    WHEN v >= 1e8 THEN 1e8 WHEN v >= 1e7 THEN 1e7 WHEN v >= 1e6 THEN 1e6
        |    WHEN v >= 1e5 THEN 1e5 WHEN v >= 1e4 THEN 1e4 WHEN v >= 1e3 THEN 1e3
        |    WHEN v >= 1e2 THEN 1e2 WHEN v >= 1e1 THEN 1e1 WHEN v >= 1e0 THEN 1e0
        |    WHEN v >= 1e-1 THEN 1e-1 WHEN v >= 1e-2 THEN 1e-2 WHEN v >= 1e-3 THEN 1e-3
        |    WHEN v >= 1e-4 THEN 1e-4 WHEN v >= 1e-5 THEN 1e-5 WHEN v >= 1e-6 THEN 1e-6
        |    END AS scale
        |  FROM vv),
        |c AS (
        |  SELECT CAST(FLOOR(v / scale) AS INTEGER) AS digit,
        |         CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM s GROUP BY 1 HAVING digit BETWEEN 1 AND 9),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM c),
        |e AS (SELECT * FROM (VALUES
        |  (1, 0.30102999566398120), (2, 0.17609125905568124), (3, 0.12493873660829992),
        |  (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514))
        |  AS t(digit, exp_share)),
        |p AS (
        |  SELECT digit, n_obs,
        |    n_obs / CAST(t AS DOUBLE) AS obs_share, exp_share,
        |    (n_obs / CAST(t AS DOUBLE) - exp_share)
        |      * (n_obs / CAST(t AS DOUBLE) - exp_share) / exp_share AS chi2_term
        |  FROM c JOIN e USING (digit), tot),
        |tt AS (
        |  SELECT CAST(SUM(CAST(floor(chi2_term * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
        |    AS chi2_total FROM p)
        |SELECT digit, n_obs, obs_share, exp_share, chi2_term, chi2_total
        |FROM p, tt""".stripMargin)),

    // Joint-distribution heatmap panel: 10x10 equi-width cells over
    // (quantity, price) with exact-count shares.
    Query("table_histogram_2d", ((s: SparkSession, d: String) =>
      Profiling.histogram2d(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", kx = 10, ky = 10)),
      // Both bucket rules replay data_drift_value's 1-D formula per
      // axis; shares are exact-count quotients.
      Sql("""WITH rows_ AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |b AS (SELECT MIN(x) AS xmn, MAX(x) AS xmx, MIN(y) AS ymn, MAX(y) AS ymx
        |      FROM rows_),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM rows_),
        |k AS (
        |  SELECT
        |    CASE WHEN xmx = xmn THEN 0
        |         ELSE LEAST(9, CAST(FLOOR((x - xmn) / ((xmx - xmn) / 10)) AS INTEGER)) END AS bucket_x,
        |    CASE WHEN ymx = ymn THEN 0
        |         ELSE LEAST(9, CAST(FLOOR((y - ymn) / ((ymx - ymn) / 10)) AS INTEGER)) END AS bucket_y,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM rows_, b GROUP BY 1, 2)
        |SELECT bucket_x, bucket_y, n_rows,
        |  n_rows / CAST(t AS DOUBLE) AS share
        |FROM k, tot""".stripMargin)),

    // Incremental aggregate maintenance: the stored rollup absorbs a
    // new batch's partial aggregate by grain-keyed summation
    // (Merge.mergeAggregate) — always-fresh rollups without ever
    // re-scanning history. The oracle recomputes from ALL rows:
    // equality IS the mergeability proof.
    Query("gold_agg_incremental", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events")
      def partial(df: DataFrame): DataFrame = df
        .groupBy(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), sum(money(col("value"))).as("__sum"))
      val stored = partial(ev.filter(to_date(col("ts")) <= lit("2024-01-15")))
      val batch = partial(ev.filter(to_date(col("ts")) > lit("2024-01-15")))
      Merge.mergeAggregate(stored, batch, Seq("event_type_norm", "day"))
        .select(col("event_type_norm"), col("day"), col("n_events"),
          coalesce(round(col("__sum"), 2), lit(0)).cast("double").as("value_sum"))
    }),
      // The merged rollup must equal a recompute over ALL rows — the
      // mergeability contract of Merge.mergeAggregate.
      Sql("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin))
  )

  /** Pricing summary over lineitem (TPC-H Q1 shape): groupBy + exact
    * decimal sums; one shuffle, map-side partial aggregation.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q5-shaped local-supplier revenue: six-table star join with
    * a selective region/date filter. Exercises Catalyst's join
    * reordering and the broadcast chain — every dim side is below the
    * broadcast threshold, so the fact tables are never shuffled for SK
    * resolution (the §4 contract, on a classic analytical shape).
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(money(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** Events feed contract (the ViajesTripRow pattern, contracts.py:
    * 47-109): required ids/timestamps, enum-checked normalized code,
    * optional bounded measure, at-least-one payload cross rule.
    */
  private def eventsContract: (Seq[RowContract.Field], Seq[RowContract.Cross]) = (
    Seq(
      RowContract.required("user_id", "MISSING_ID"),
      RowContract.upperEnum("event_type",
        Seq("CLICK", "SIGNUP", "ERROR", "VIEW", "PURCHASE"),
        badReason = "BAD_TYPE", missingReason = Some("MISSING_TYPE")),
      RowContract.required("ts", "MISSING_TIMESTAMP"),
      RowContract.optionalRange("value", 0, 450, "BAD_RANGE_VALUE")),
    Seq(RowContract.atLeastOneOf("EMPTY_PAYLOAD", Seq("value", "props"))))

  /** SCD2 user dimension from the events history: business key
    * user_id, tracked attribute = latest-of-day event_type
    * (reference: src/gold/load_gold.py:295-439 dim_stop semantics).
    */
  private def scd2User(spark: SparkSession, dir: String): DataFrame =
    Scd2.fromHistory(t(spark, dir, "events"),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))

  /** Incremental SCD2 load: dim built from the first half of the
    * month, then a batch of the rest merged with expire-and-insert
    * semantics (reference: load_gold.py:295-439). Must equal the
    * full-history rebuild, so it shares gold_scd2_build's oracle.
    */
  private def scd2UserIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-16 00:00:00"))
    val existing = Scd2.fromHistory(ev.filter(col("ts") < cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
    Scd2.applyChanges(existing, ev.filter(col("ts") >= cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
  }

  /** Full-snapshot SCD2 load with DELETE semantics: the post-cutoff
    * state (latest event_type per user observed at the snapshot date)
    * is the complete universe — users absent from it expire, present
    * users follow the applyChanges path.
    */
  private def scd2UserSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-16 00:00:00"))
    val existing = Scd2.fromHistory(ev.filter(col("ts") < cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val snap = ev.filter(col("ts") >= cutoff)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type"))
    Scd2.applySnapshot(existing, snap, bk = "user_id",
      attrs = Seq("event_type"), asOfDate = to_date(lit("2024-01-16")))
  }

  /** As-of resolution of every event to its covering SCD2 user version
    * (reference: src/gold/load_gold.py:1144-1154).
    */
  private def asofEvents(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to", "is_current")
    val fact = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
    AsOfJoin(fact, dim, "user_id", "bk_user_id", col("event_dt"))
      .select("event_id", "user_id", "event_dt", "segment", "valid_from", "is_current")
  }

  /** Same resolution as [[asofEvents]] through the union+merge-scan
    * fallback (one shuffle, no per-key pair materialization) — the
    * large-both-sides path; must produce identical rows, so it shares
    * the gold_asof_join oracle.
    */
  private def asofEventsMergeScan(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to", "is_current")
    val fact = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
    AsOfJoin.mergeScan(fact, dim, "user_id", "bk_user_id", col("event_dt"))
      .select("event_id", "user_id", "event_dt", "segment", "valid_from", "is_current")
  }

  /** The staged (cleansed, gated, cash-excluded) fact input. */
  private def stagedEvents(spark: SparkSession, dir: String): DataFrame =
    QualityGate.valid(cleanseEvents(spark, dir), eventRules)
      .filter(col("user_id").isNotNull)

  private val factGrain = Seq("user_id", "date_sk", "time_30m_sk", "event_type_norm")

  /** Idempotent merge on the fact grain (reference: load_gold.py MERGE
    * WHEN NOT MATCHED): an "existing" load of the early events plus an
    * incoming full reload — re-loaded grains must not duplicate.
    */
  private def mergeGrain(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedEvents(spark, dir)
    val existing = Dedup.latestByGrain(staged.filter(col("event_id") < 5000),
      grain = factGrain, order = Seq("event_id"))
    val incoming = Dedup.latestByGrain(staged, grain = factGrain, order = Seq("event_id"))
    Merge.appendNewGrains(existing, incoming, factGrain)
  }

  /** Full star fact build: cleanse -> quality gate -> cash-row
    * exclusion -> grain dedup -> SK resolution via LEFT JOIN to the
    * lookup dim -> as-of join to the SCD2 user dim
    * (reference: src/gold/load_gold.py:1119-1180).
    */
  private def fctStar(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.latestByGrain(stagedEvents(spark, dir),
      grain = factGrain, order = Seq("event_id"))
    val dimEtype = Dims.lookupDim(cleanseEvents(spark, dir),
      "event_type_norm", "event_type_sk", "event_type_name")
    val dimUser = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to")
    val withSk = deduped.join(broadcast(dimEtype),
      deduped("event_type_norm") === dimEtype("event_type_name"), "left")
    AsOfJoin(withSk, dimUser, "user_id", "bk_user_id",
        to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .select(col("date_sk"), col("time_30m_sk"), col("user_id"),
        col("event_type_sk"), col("tipo_dia"), col("segment"),
        col("valid_from").as("segment_valid_from"),
        col("event_id"), col("value"), col("prop_k"))
  }

  private val dedupGrainSql =
    """SELECT event_id, ts, user_id, event_type, value, props FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** One chi2/Cramér's-V pair statement (Profiling.chi2Assoc mirror),
    * parametrized by the column pair — shared by the single-pair
    * query and the pairwise matrix (generated from the same column
    * list, the corrPairs discipline).
    */
  private def chi2PairOracleSql(validSql: String, x: String, y: String): String =
    s"""WITH xy AS (
       |  SELECT $x AS x, $y AS y,
       |    CAST(COUNT(*) AS BIGINT) AS nxy
       |  FROM ($validSql)
       |  WHERE $x IS NOT NULL AND $y IS NOT NULL
       |  GROUP BY 1, 2),
       |nx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM xy GROUP BY 1),
       |ny AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM xy GROUP BY 1),
       |kx AS (SELECT CAST(COUNT(*) AS BIGINT) AS kx FROM nx),
       |ky AS (SELECT CAST(COUNT(*) AS BIGINT) AS ky FROM ny),
       |nt AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM xy),
       |grid AS (
       |  SELECT nx.x, ny.y, nx.nx, ny.ny, COALESCE(xy.nxy, 0) AS nxy
       |  FROM nx CROSS JOIN ny
       |  LEFT JOIN xy ON xy.x = nx.x AND xy.y = ny.y),
       |pe AS (
       |  SELECT n, nxy, CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE) AS pxy,
       |    (CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) AS e
       |  FROM grid CROSS JOIN nt),
       |terms AS (
       |  SELECT n, nxy,
       |    FLOOR((pxy - e) * (pxy - e) / e * 1e12) / 1e12 AS term
       |  FROM pe),
       |s AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN nxy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cells,
       |  SUM(CAST(term AS DECIMAL(18,12))) AS s FROM terms)
       |SELECT '$x' AS col_x, '$y' AS col_y,
       |  n, n_cells, kx AS k_x, ky AS k_y,
       |  (kx - 1) * (ky - 1) AS dof,
       |  CAST(n AS DOUBLE) * CAST(s AS DOUBLE) AS chi2,
       |  CASE WHEN LEAST(kx - 1, ky - 1) <= 0 THEN NULL
       |       ELSE sqrt(CAST(s AS DOUBLE)
       |                 / CAST(LEAST(kx - 1, ky - 1) AS DOUBLE)) END AS cramers_v
       |FROM s CROSS JOIN kx CROSS JOIN ky""".stripMargin

  /** Missingness-audit oracle generated from the SAME column list —
    * integer moments, the identical fixed-order phi expression.
    */
  private def missingnessOracleSql(cols: Seq[String]): String = {
    val moms =
      cols.map(c => s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"CAST(SUM(CASE WHEN $a IS NULL AND $b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nb_${a}_$b" }
    val pairSelects = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  nn_$a AS n_null_x, nn_$b AS n_null_y, nb_${a}_$b AS n_both_null,
         |  (CAST(n AS DOUBLE) * CAST(nb_${a}_$b AS DOUBLE)
         |     - CAST(nn_$a AS DOUBLE) * CAST(nn_$b AS DOUBLE))
         |  / NULLIF(sqrt(CAST(nn_$a AS DOUBLE) * CAST(n - nn_$a AS DOUBLE)
         |     * CAST(nn_$b AS DOUBLE) * CAST(n - nn_$b AS DOUBLE)), 0) AS phi
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")}
       |  FROM events)
       |$pairSelects""".stripMargin
  }

  /** Profiling.partialCorr mirrored: the corrPairs moment idiom, the
    * three r's as subexpressions, one fixed-order partial at the edge.
    */
  private def partialCorrOracleSql(x: String, y: String, z: String): String = {
    val cols = Seq(x, y, z)
    val moms =
      cols.map(c => s"SUM(CAST($c AS DECIMAL(18,6))) AS s1_$c") ++
      cols.map(c => s"SUM(CAST($c * $c AS DECIMAL(18,6))) AS s2_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"SUM(CAST($a * $b AS DECIMAL(18,6))) AS sp_${a}_$b" }
    def r(a: String, b: String): String = {
      val sp = if (cols.indexOf(a) < cols.indexOf(b)) s"sp_${a}_$b" else s"sp_${b}_$a"
      s"""(CAST($sp AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n)
         |  / NULLIF(sqrt(CAST(s2_$a AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$a AS DOUBLE) / n)
         |         * sqrt(CAST(s2_$b AS DOUBLE) - CAST(s1_$b AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n), 0)""".stripMargin
    }
    s"""WITH r AS (
       |  SELECT * FROM lineitem
       |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
       |m AS (SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")} FROM r),
       |rr AS (
       |  SELECT n,
       |    ${r(x, y)} AS r_xy,
       |    ${r(x, z)} AS r_xz,
       |    ${r(y, z)} AS r_yz
       |  FROM m)
       |SELECT '$x' AS col_x, '$y' AS col_y, '$z' AS col_given, n,
       |  r_xy, r_xz, r_yz,
       |  (r_xy - r_xz * r_yz)
       |    / NULLIF(sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 0.0) AS partial_corr
       |FROM rr""".stripMargin
  }

  /** The pairwise-correlation oracle, generated from the profiled
    * column list so the moment names and the op order can never drift
    * from Profiling.corrPairs.
    */
  private def corrPairsOracleSql(cols: Seq[String]): String = {
    val moms =
      cols.map(c => s"SUM(CAST($c AS DECIMAL(18,6))) AS s1_$c") ++
      cols.map(c => s"SUM(CAST($c * $c AS DECIMAL(18,6))) AS s2_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"SUM(CAST($a * $b AS DECIMAL(18,6))) AS sp_${a}_$b" }
    val pairSelects = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  (CAST(sp_${a}_$b AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n)
         |  / NULLIF(sqrt(CAST(s2_$a AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$a AS DOUBLE) / n)
         |         * sqrt(CAST(s2_$b AS DOUBLE) - CAST(s1_$b AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n), 0) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH r AS (
       |  SELECT * FROM lineitem
       |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
       |m AS (SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")} FROM r)
       |$pairSelects""".stripMargin
  }

  /** The change-point SCD2 builder over any (user_id, obs_date,
    * event_type) observation relation — shared by the snapshot oracle's
    * present/absent chains (mirrors Scd2.fromHistory step 2-3).
    */
  private def scd2BuildSql(obsRel: String): String =
    s"""SELECT user_id, event_type,
       |  obs_date AS valid_from,
       |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) - 1 AS valid_to,
       |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) IS NULL AS is_current,
       |  sha256(k) AS row_hash
       |FROM (
       |  SELECT user_id, obs_date, event_type, k FROM (
       |    SELECT *, LAG(k) OVER (PARTITION BY user_id ORDER BY obs_date) AS prev FROM (
       |      SELECT user_id, obs_date, event_type,
       |        UPPER(TRIM(COALESCE(CAST(event_type AS VARCHAR), ''))) AS k
       |      FROM ($obsRel)))
       |  WHERE prev IS NULL OR prev <> k)""".stripMargin

  /** The snapshot-diff SCD2 oracle: present keys rebuild over
    * pre-cutoff daily observations plus the snapshot observation;
    * absent keys rebuild over pre-cutoff only and expire at asOf−1.
    */
  private def scd2SnapshotSql: String = {
    val preObs =
      """SELECT user_id, obs_date, event_type FROM (
        |  SELECT user_id, CAST(ts AS DATE) AS obs_date, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1""".stripMargin
    val snapObs =
      """SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1""".stripMargin
    val presentObs =
      s"""SELECT p.user_id, p.obs_date, p.event_type
         |FROM ($preObs) p WHERE EXISTS (
         |  SELECT 1 FROM ($snapObs) s WHERE s.user_id = p.user_id)
         |UNION ALL
         |SELECT user_id, DATE '2024-01-16' AS obs_date, event_type
         |FROM ($snapObs)""".stripMargin
    val absentObs =
      s"""SELECT p.user_id, p.obs_date, p.event_type
         |FROM ($preObs) p WHERE NOT EXISTS (
         |  SELECT 1 FROM ($snapObs) s WHERE s.user_id = p.user_id)""".stripMargin
    s"""SELECT * FROM (${scd2BuildSql(presentObs)})
       |UNION ALL
       |SELECT user_id, event_type, valid_from,
       |  CASE WHEN is_current THEN DATE '2024-01-15' ELSE valid_to END AS valid_to,
       |  FALSE AS is_current, row_hash
       |FROM (${scd2BuildSql(absentObs)})""".stripMargin
  }

  /** DuckDB twin of [[scd2User]]: same window algebra as
    * Scd2.fromHistory (per-day latest-wins, change points via LAG,
    * validity ranges via LEAD, sha256 row hash).
    */
  private def scd2UserSql: String =
    """SELECT user_id, event_type,
      |  obs_date AS valid_from,
      |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) - 1 AS valid_to,
      |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) IS NULL AS is_current,
      |  sha256(k) AS row_hash
      |FROM (
      |  SELECT user_id, obs_date, event_type, k FROM (
      |    SELECT *, LAG(k) OVER (PARTITION BY user_id ORDER BY obs_date) AS prev FROM (
      |      SELECT user_id, obs_date, event_type,
      |        UPPER(TRIM(COALESCE(CAST(event_type AS VARCHAR), ''))) AS k
      |      FROM (
      |        SELECT user_id, CAST(ts AS DATE) AS obs_date, event_type,
      |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                             ORDER BY ts DESC, event_id DESC) AS rn
      |        FROM events) WHERE rn = 1))
      |  WHERE prev IS NULL OR prev <> k)""".stripMargin
}
