package graft
package registry

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators._

import Shared._

/** Sampling designs and sketches.
  */
private[graft] object SamplingQueries {

  def records: Seq[Query] = Seq(
    // Quantile-sketch accuracy panel: percentile_approx vs the exact
    // rank brackets plus the EMPIRICAL rank error of each sketch
    // answer — the evidence that licenses the single-pass sketch at
    // 100 TB. Sketch internals → rows-only by the §5.1 sketch rule.
    Query("sketch_quantile_error", ((s: SparkSession, d: String) =>
      Profiling.quantileSketchError(t(s, d, "events"), "value",
        ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99), accuracy = 100)),
      RowsOnly("sketch: percentile_approx internals depend on traversal order",
        pinnedBy = "AnalyticsPackSpec")),

    // HLL cardinality accuracy panel: exact distinct vs the HLL
    // estimate per column, checked against the published 3σ envelope
    // — the evidence behind sketch_profile's one-pass distincts.
    // Sketch state → rows-only by the §5.1 sketch rule.
    Query("sketch_hll_error", ((s: SparkSession, d: String) =>
      Profiling.hllErrorPanel(t(s, d, "events"),
        Seq("event_type", "user_id", "props"), lgK = 12)),
      RowsOnly("sketch: HLL states depend on traversal order",
        pinnedBy = "SamplingSketchSpec")),

    // Neyman optimal stratified allocation: per event-type stratum
    // the budget split n_h ∝ N_h·σ_h (vs naive proportional),
    // largest-remainder rounded to hit the budget exactly — the
    // survey-design step in front of the stratified samplers.
    Query("sample_neyman", ((s: SparkSession, d: String) =>
      Sampling.neymanAllocation(
        t(s, d, "events")
          .select(upper(trim(col("event_type"))).as("event_type_norm"),
            col("value")),
        "event_type_norm", "value", budget = 5000L)),
      // Sampling.neymanAllocation mirrored: exact decimal moments,
      // 1e-6-gridded sd/weights, DECIMAL weight total, the same fixed
      // IEEE raw allocations and the (fraction DESC, stratum)
      // largest-remainder ranking.
      Sql("""WITH ev AS (
        |  SELECT UPPER(TRIM(event_type)) AS stratum, CAST(value AS DOUBLE) AS v
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |moms AS (
        |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    SUM(CAST(v AS DECIMAL(28,6))) AS s1,
        |    SUM(CAST(v * v AS DECIMAL(28,6))) AS s2
        |  FROM ev GROUP BY 1),
        |st AS (
        |  SELECT stratum, n_rows,
        |    FLOOR(COALESCE(CASE WHEN n_rows >= 2 THEN
        |      sqrt(GREATEST(0.0,
        |        (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_rows)
        |        / (n_rows - 1))) END, 0.0) * 1e6) / 1e6 AS sd
        |  FROM moms),
        |w AS (
        |  SELECT stratum, n_rows, sd,
        |    FLOOR(CAST(n_rows AS DOUBLE) * sd * 1e6) / 1e6 AS wgt
        |  FROM st),
        |tots AS (
        |  SELECT CAST(SUM(CAST(wgt AS DECIMAL(28,6))) AS DOUBLE) AS wsum,
        |    CAST(SUM(n_rows) AS BIGINT) AS ntot
        |  FROM w),
        |raw AS (
        |  SELECT stratum, n_rows, sd,
        |    CASE WHEN wsum > 0 THEN 5000.0 * wgt / wsum END AS raw_n,
        |    5000.0 * CAST(n_rows AS DOUBLE) / CAST(ntot AS DOUBLE) AS raw_p
        |  FROM w CROSS JOIN tots),
        |based AS (
        |  SELECT stratum, n_rows, sd, raw_n,
        |    CAST(FLOOR(raw_n) AS BIGINT) AS bn, raw_n - FLOOR(raw_n) AS fn,
        |    CAST(FLOOR(raw_p) AS BIGINT) AS bp, raw_p - FLOOR(raw_p) AS fp
        |  FROM raw),
        |short AS (
        |  SELECT 5000 - COALESCE(SUM(bn), 5000) AS shn,
        |    5000 - SUM(bp) AS shp
        |  FROM based),
        |rk AS (
        |  SELECT b.*, shn, shp,
        |    ROW_NUMBER() OVER (ORDER BY fn DESC, stratum) AS rn,
        |    ROW_NUMBER() OVER (ORDER BY fp DESC, stratum) AS rp
        |  FROM based b CROSS JOIN short)
        |SELECT stratum, n_rows, sd,
        |  CASE WHEN raw_n IS NOT NULL
        |       THEN bn + CASE WHEN rn <= shn THEN 1 ELSE 0 END END AS alloc_neyman,
        |  bp + CASE WHEN rp <= shp THEN 1 ELSE 0 END AS alloc_proportional,
        |  CASE WHEN raw_n IS NOT NULL
        |       THEN (bn + CASE WHEN rn <= shn THEN 1 ELSE 0 END) > n_rows
        |       ELSE FALSE END AS over_allocated
        |FROM rk""".stripMargin)),

    // Rare-domain upsampling PLAN: integer replication factors that
    // lift every source to at least a 6% share, capped at 4 epochs —
    // the panel a reader joins on, never materialized xk.
    Query("sample_upsample_rare", ((s: SparkSession, d: String) =>
      Sampling.upsampleRare(t(s, d, "documents"), "source",
        minShare = 0.06, maxRep = 4)),
      // Sampling.upsampleRare mirrored: exact counts, one mirrored
      // ceil, exact-long post shares.
      Sql("""WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS domain,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tt FROM c),
        |p AS (
        |  SELECT domain, n_docs,
        |    CAST(n_docs AS DOUBLE) / CAST(tt AS DOUBLE) AS raw_share,
        |    CASE WHEN CAST(n_docs AS DOUBLE) / CAST(tt AS DOUBLE) >= 0.06
        |         THEN CAST(1 AS BIGINT)
        |         ELSE LEAST(CAST(4 AS BIGINT),
        |           CAST(CEIL(0.06 * CAST(tt AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS BIGINT))
        |    END AS rep_factor
        |  FROM c CROSS JOIN t),
        |p2 AS (SELECT *, rep_factor * n_docs AS upsampled_docs FROM p),
        |t2 AS (SELECT CAST(SUM(upsampled_docs) AS BIGINT) AS u FROM p2)
        |SELECT domain, n_docs, raw_share, rep_factor,
        |  CAST(upsampled_docs AS BIGINT) AS upsampled_docs,
        |  CAST(upsampled_docs AS DOUBLE) / CAST(u AS DOUBLE) AS upsampled_share
        |FROM p2 CROSS JOIN t2""".stripMargin)),

    // Max-min fair token-budget allocation (water-filling): every
    // source gets an equal ration τ except those whose whole capacity
    // fits under it; closed-form regime choice on the source panel.
    Query("sample_budget_waterfill", ((s: SparkSession, d: String) =>
      Sampling.budgetWaterfill(t(s, d, "documents"), "source",
        "n_chars", budget = 100000L)),
      // Sampling.budgetWaterfill mirrored: triangular panel cumulation,
      // the same largest-feasible-regime filter (ORDER BY i DESC LIMIT 1
      // == the max-struct choice: ranks are a total order), mirrored τ.
      Sql("""WITH caps AS (
        |  SELECT CAST(source AS VARCHAR) AS source,
        |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS capacity
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(capacity) AS BIGINT) AS totcap
        |  FROM caps),
        |ranked AS (
        |  SELECT x.source, x.capacity,
        |    CAST(COUNT(*) AS BIGINT) AS i, CAST(SUM(y.capacity) AS BIGINT) AS p
        |  FROM caps x JOIN caps y
        |    ON (y.capacity, y.source) <= (x.capacity, x.source)
        |  GROUP BY 1, 2),
        |feas AS (
        |  SELECT i AS ci, p AS cp FROM ranked CROSS JOIN tot
        |  WHERE i < k AND capacity * (k - i) <= 100000 - p
        |  ORDER BY i DESC LIMIT 1),
        |feas2 AS (
        |  SELECT COALESCE((SELECT ci FROM feas), 0) AS ci,
        |    COALESCE((SELECT cp FROM feas), 0) AS cp),
        |tau AS (
        |  SELECT CASE WHEN totcap <= 100000 THEN NULL
        |    ELSE CAST(100000 - cp AS DOUBLE)
        |      / NULLIF(CAST(k - ci AS DOUBLE), 0.0) END AS tau
        |  FROM feas2 CROSS JOIN tot),
        |alloc AS (
        |  SELECT c.source, c.capacity, t.tau,
        |    CASE WHEN t.tau IS NULL THEN c.capacity
        |         ELSE LEAST(c.capacity, CAST(FLOOR(t.tau) AS BIGINT)) END AS allocated
        |  FROM caps c CROSS JOIN tau t)
        |SELECT source, capacity, allocated, tau,
        |  CAST(allocated AS DOUBLE) / NULLIF(CAST(capacity AS DOUBLE), 0.0)
        |    AS utilization,
        |  allocated = capacity AS is_exhausted
        |FROM alloc""".stripMargin)),

    // Temperature-scaled mixture weights (p ∝ share^0.5): the
    // derivation step whose temp_share output feeds sample_domain_mix.
    Query("sample_temperature_mix", ((s: SparkSession, d: String) =>
      Sampling.temperatureShares(t(s, d, "documents"), "lang", alpha = 0.5)),
      Sql("""WITH c AS (
        |  SELECT CAST(lang AS VARCHAR) AS domain, COUNT(*) AS n_docs
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS total FROM c),
        |p AS (
        |  SELECT domain, n_docs,
        |    CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS raw_share,
        |    floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6) / 1e6 AS numq
        |  FROM c CROSS JOIN t),
        |d AS (SELECT SUM(CAST(numq AS DECIMAL(28,12))) AS den FROM p)
        |SELECT domain, n_docs, raw_share,
        |  numq / CAST(den AS DOUBLE) AS temp_share
        |FROM p CROSS JOIN d""".stripMargin)),

    // DSIR importance weights: English slice as the target
    // distribution, 64 hashed unigram buckets (see
    // Sampling.importanceWeights).
    Query("sample_importance_dsir", ((s: SparkSession, d: String) =>
      Sampling.importanceWeights(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", nBuckets = 64)),
      // ln only on the 64-bucket panel (1e-4 floor); md5 bucketing
      // and the 1e-6 product floor replay Sampling.importanceWeights
      // op-for-op.
      Sql(s"""WITH feat AS (
         |  SELECT doc_id, lang = 'en' AS is_t,
         |    CAST(concat('0x', substr(md5(COALESCE(CAST(tok AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT) % 64 AS b
         |  FROM (SELECT doc_id, lang, UNNEST(t) AS tok
         |        FROM (SELECT doc_id, lang, $toksSql AS t FROM documents))),
         |cb AS (
         |  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cb, MAX(is_t) AS is_t
         |  FROM feat GROUP BY 1, 2),
         |panel AS (
         |  SELECT b, CAST(SUM(cb) AS BIGINT) AS rc,
         |    CAST(SUM(CASE WHEN is_t THEN cb ELSE 0 END) AS BIGINT) AS tc
         |  FROM cb GROUP BY 1),
         |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS tr, CAST(SUM(tc) AS BIGINT) AS tt FROM panel),
         |lam AS (
         |  SELECT b,
         |    floor(ln((CAST(tc + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE)) /
         |             (CAST(rc + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE))) * 1e4) / 1e4 AS lam
         |  FROM panel, tot),
         |s AS (
         |  SELECT doc_id, CAST(SUM(cb) AS BIGINT) AS n_feats,
         |    SUM(CAST(floor(CAST(cb AS DOUBLE) * lam * 1e6) / 1e6 AS DECIMAL(28,6))) AS lw
         |  FROM cb JOIN lam USING (b) GROUP BY 1)
         |SELECT doc_id, n_feats, CAST(lw AS DOUBLE) AS log_weight,
         |  CAST(lw AS DOUBLE) > 0 AS favors_target
         |FROM s""".stripMargin)),

    // Domain-mixture curation: keep the largest corpus whose language
    // proportions hit the target shares; per-domain keep rates are
    // computed from the counts, membership is key mod 65536.
    Query("sample_domain_mix", ((s: SparkSession, d: String) =>
      Sampling.domainMix(t(s, d, "documents"), "lang",
          Map("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))),
      // T = min(n/share) (the largest total the scarcest domain allows);
      // all share/rate arithmetic in DOUBLE, left-assoc like the Spark
      // expression tree, so thresholds are bit-identical; membership is
      // the repo's md5 bucket vs the hex-rendered threshold.
      Sql("""WITH shares AS (
        |  SELECT * FROM (VALUES
        |    ('en', CAST(0.40 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |    ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |    ('zh', CAST(0.15 AS DOUBLE))) AS t(lang, share)),
        |c AS (
        |  SELECT d.lang, s.share, COUNT(*) AS n
        |  FROM documents d JOIN shares s ON d.lang = s.lang
        |  GROUP BY 1, 2),
        |mx AS (SELECT MIN(n / share) AS t_max FROM c),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN FLOOR(share * t_max / n * 65536) >= 65536 THEN 'g'
        |         ELSE lower(lpad(to_hex(CAST(FLOOR(share * t_max / n * 65536)
        |                                      AS BIGINT)), 4, '0'))
        |    END AS thr_hex
        |  FROM c, mx)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr_hex""".stripMargin)),

    // Deterministic stratified sample: membership is a pure function
    // of md5(event_id) — replayable in any engine, no shuffle/state.
    Query("sample_stratified", ((s: SparkSession, d: String) =>
      Sampling.stratified(t(s, d, "events"), "event_type",
        rates = Map("CLICK" -> 0.25, "VIEW" -> 0.125), defaultRate = 0.5,
        keyCols = Seq("event_id"))),
      // Deterministic sampler: DuckDB replays the exact md5-bucket
      // membership rule — same rows survive in both engines.
      Sql("""SELECT * FROM (
        |  SELECT *,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS sample_bucket,
        |    CASE WHEN event_type = 'CLICK' THEN '4000'
        |         WHEN event_type = 'VIEW'  THEN '2000'
        |         ELSE '8000' END AS sample_threshold
        |  FROM events)
        |WHERE sample_bucket < sample_threshold""".stripMargin)),

    // Deterministic class balancing: every language kept at the
    // minority language's DATA-DERIVED rate — flat expected class
    // histogram, md5-pure membership.
    Query("sample_class_balance", ((s: SparkSession, d: String) =>
      Sampling.classBalance(t(s, d, "documents"), "lang",
        keyCols = Seq("doc_id"))),
      // Sampling.classBalance mirrored: data-derived minority rate per
      // class, integer bucket threshold round(rate*65536), md5 rule.
      Sql("""WITH r AS (SELECT * FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_class FROM r GROUP BY 1),
        |mn AS (SELECT MIN(n_class) AS m FROM c),
        |p AS (
        |  SELECT lang, n_class,
        |    CAST(m AS DOUBLE) / CAST(n_class AS DOUBLE) AS class_rate,
        |    CAST(ROUND(CAST(m AS DOUBLE) / CAST(n_class AS DOUBLE) * 65536.0) AS BIGINT) AS thr
        |  FROM c CROSS JOIN mn)
        |SELECT r.lang, r.doc_id, r.text, r.source, r.n_chars,
        |  p.n_class, p.class_rate
        |FROM r JOIN p USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) < thr""".stripMargin)),

    // Exact k-per-stratum sample: each language keeps exactly its 12
    // smallest-by-md5(doc_id) docs — candidate-bounded ranking, never
    // a corpus-wide per-stratum sort (Sampling.exactQuota).
    Query("sample_exact_quota", ((s: SparkSession, d: String) =>
      Sampling.exactQuota(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", k = 12)
        .select(col("lang"), col("doc_id"), col("sample_rank"))),
      // Exact top-k per stratum: DuckDB ranks whole strata (fine at
      // oracle scale); Spark's candidate pre-filter provably preserves
      // the same top-k because the filter bucket is a prefix of the
      // ranking hash.
      Sql("""WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 12""".stripMargin)),

    // Quality-weighted corpus sampling: exact quartile THRESHOLDS of
    // the text_stats quality score through the rank brackets (the
    // score is a near-unique ratio — the builtin percentile would
    // merge the whole corpus's value map in one reducer) broadcast as
    // one row — never a global NTILE window over the corpus —, tier
    // by comparison, then each tier keeps its own deterministic md5
    // rate (top tier whole, bottom 12.5%) — upweight quality without
    // losing replayability.
    Query("sample_quality_weighted", ((s: SparkSession, d: String) => {
      val q = textStats(s, d).select(col("doc_id"), col("quality_score"))
        .ckptPartitioned()
      val thr = Profiling.exactQuantilesBy(q, Seq.empty, "quality_score",
          Seq(0.25, 0.5, 0.75))
        .agg(
          max(when(col("quantile") === 0.25, col("value"))).as("p25"),
          max(when(col("quantile") === 0.5, col("value"))).as("p50"),
          max(when(col("quantile") === 0.75, col("value"))).as("p75"))
      val tiered = q.crossJoin(broadcast(thr))
        .withColumn("quality_tier",
          when(col("quality_score") <= col("p25"), "T1")
            .when(col("quality_score") <= col("p50"), "T2")
            .when(col("quality_score") <= col("p75"), "T3")
            .otherwise("T4"))
        .drop("p25", "p50", "p75")
      Sampling.stratified(tiered, "quality_tier",
        rates = Map("T1" -> 0.125, "T2" -> 0.25, "T3" -> 0.5, "T4" -> 1.0),
        defaultRate = 1.0, keyCols = Seq("doc_id"))
    }),
      // Exact-quantile tier thresholds + the md5 membership rule —
      // both already pinned elsewhere (F2's quantile_cont parity,
      // sample_stratified's bucket rule).
      Sql(s"""WITH q AS (SELECT doc_id, quality_score FROM ($textStatsSql)),
         |thr AS (
         |  SELECT quantile_cont(quality_score, 0.25) AS p25,
         |         quantile_cont(quality_score, 0.5) AS p50,
         |         quantile_cont(quality_score, 0.75) AS p75
         |  FROM q),
         |tiered AS (
         |  SELECT doc_id, quality_score,
         |    CASE WHEN quality_score <= p25 THEN 'T1'
         |         WHEN quality_score <= p50 THEN 'T2'
         |         WHEN quality_score <= p75 THEN 'T3'
         |         ELSE 'T4' END AS quality_tier
         |  FROM q, thr)
         |SELECT * FROM (
         |  SELECT *,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS sample_bucket,
         |    CASE WHEN quality_tier = 'T1' THEN '2000'
         |         WHEN quality_tier = 'T2' THEN '4000'
         |         WHEN quality_tier = 'T3' THEN '8000'
         |         ELSE 'g' END AS sample_threshold
         |  FROM tiered)
         |WHERE sample_bucket < sample_threshold""".stripMargin)),

    // Deterministic contrastive negatives: 4 per anchor as a pure
    // function of (doc_id, index) — nonzero rotation of the md5-rank
    // permutation, never self-pairing, reproducible across engines.
    Query("sample_negative_pairs", ((s: SparkSession, d: String) =>
      Sampling.negativePairs(t(s, d, "documents"), "doc_id", k = 4)),
      // Negative-pair replay: ROW_NUMBER over the md5 order stands in
      // for the distributed prefix-sum rank; identical offset/mod
      // arithmetic on the 32-bit md5 prefix.
      Sql("""WITH r AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rnk
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM r),
        |a AS (
        |  SELECT doc_id, rnk, nn, js.neg_seq
        |  FROM r, n, (SELECT UNNEST([1, 2, 3, 4]) AS neg_seq) js
        |  WHERE nn >= 2),
        |o AS (
        |  SELECT doc_id, neg_seq, nn,
        |    ((rnk - 1 +
        |      (CAST(concat('0x', substr(md5(concat_ws('|',
        |         CAST(doc_id AS VARCHAR), 'neg', CAST(neg_seq AS VARCHAR))), 1, 8))
        |        AS BIGINT) % (nn - 1)) + 1) % nn) + 1 AS neg_rank
        |  FROM a)
        |SELECT o.doc_id, CAST(o.neg_seq AS INTEGER) AS neg_seq,
        |  p.doc_id AS neg_doc_id
        |FROM o JOIN r p ON o.neg_rank = p.rnk""".stripMargin)),

    // Quality-greedy selection under a global token budget: keep the
    // best docs while the running token total fits — the "best corpus
    // that fits the training budget" cut, running total = distributed
    // prefix sum of exact integer token counts.
    Query("sample_token_budget", ((s: SparkSession, d: String) =>
      Sampling.tokenBudget(
        textStats(s, d).select(col("doc_id"), col("quality_score"), col("n_tokens")),
        "doc_id", "quality_score", "n_tokens", budget = 15000L)),
      Sql(s"""WITH st AS (SELECT doc_id, quality_score, n_tokens FROM ($textStatsSql)),
         |c AS (
         |  SELECT doc_id, quality_score, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM st)
         |SELECT doc_id, quality_score, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 15000""".stripMargin)),

    // Leakage-safe train/val/test split: keyed on user_id (NOT the
    // row id), so every row of a user lands in one split — groups
    // split across train and test leak shared context into eval. The
    // assignment is a pure function of the key: stable across
    // engines, re-runs and repartitions.
    Query("sample_split_assign", ((s: SparkSession, d: String) =>
      Sampling.splitAssign(t(s, d, "events"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("user_id"))),
      // Cumulative thresholds: 0.8 -> cccd, 0.9 -> e666 (round(f*65536)
      // as %04x). md5 goes through concat_ws like the Spark side, so a
      // NULL key hashes the empty string identically in both engines.
      Sql("""SELECT * EXCLUDE (__b),
        |  CASE WHEN __b < 'cccd' THEN 'train'
        |       WHEN __b < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT *, substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) AS __b
        |  FROM events)""".stripMargin)),

    // 5-fold CV assignment keyed on user_id — same leakage argument
    // as the split assigner, exact hash-space tiling, zero shuffle.
    Query("sample_kfold_assign", ((s: SparkSession, d: String) =>
      Sampling.kfoldAssign(t(s, d, "events"), k = 5, Seq("user_id"))),
      // fold = floor(u*k) over the md5 uniform: bucket*k < 2^53 is
      // double-exact and the 2^32 divisor is a power of two — no
      // rounding decision for the engines to disagree on.
      Sql("""SELECT *,
        |  CAST(FLOOR(CAST(CAST(concat('0x',
        |    substr(md5(COALESCE(CAST(user_id AS VARCHAR), '<NULL>')), 1, 8))
        |    AS BIGINT) * 5 AS DOUBLE) / 4294967296.0) AS INT) AS fold_id
        |FROM events""".stripMargin)),

    // Mergeable-HLL distinct rollup (daily sketches → weekly union) —
    // the reaggregable COUNT(DISTINCT) shape; rows-only by protocol
    // (sketch internals), mergeability spec-pinned.
    Query("sketch_hll_rollup", ((s: SparkSession, d: String) =>
      Profiling.hllRollup(t(s, d, "events"), "ts", "user_id")),
      RowsOnly("sketch: mergeable HLL rollup states",
        pinnedBy = "SamplingSketchSpec")),

    // Mergeable-KLL quantile rollup (daily sketches -> weekly merged
    // percentiles) — the reaggregable-percentile shape Spark 4 has no
    // built-in state for; native TypedImperativeAggregate. Rows-only
    // by protocol (sketch internals), envelope pinned by the error
    // panel + spec.
    Query("sketch_kll_rollup", ((s: SparkSession, d: String) =>
      Profiling.kllRollup(t(s, d, "events"), "ts", "value")),
      RowsOnly("sketch: KLL states depend on the distributed merge order",
        pinnedBy = "SamplingSketchSpec")),

    // KLL accuracy panel: the distributed sketch's quantile answers
    // vs their EXACT empirical ranks, checked against the declared
    // O(1/k) envelope — the evidence licensing stored quantile
    // sketches. Rows-only by the sketch rule.
    Query("sketch_kll_error", ((s: SparkSession, d: String) =>
      Profiling.kllErrorPanel(t(s, d, "events"), "value")),
      RowsOnly("sketch: measures KLL states, which depend on merge order",
        pinnedBy = "SamplingSketchSpec")),

    // HLL set algebra (rows-only by protocol): user overlap between
    // the two snapshot halves — the retention/overlap question the
    // stored-sketch tier answers without a rescan.
    // HLL inclusion–exclusion overlap on the ORACLE-REPLAYABLE
    // md5-register sketch (r13 conversion: the DataSketches-backed
    // hllOverlap stays as the library-sketch interop variant,
    // spec-pinned; this registration hash-compares end to end —
    // registers are a SQL relation, estimates exact-integer `div`
    // with the gridded-ln linear-counting branch).
    Query("sketch_overlap", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      Profiling.hllOverlapReplayable(ev, "user_id",
        to_date(col("ts")) <= lit("2024-01-15"),
        to_date(col("ts")) > lit("2024-01-15"), lgK = 12)
    }),
      // Profiling.hllOverlapReplayable: the md5-register HLL overlap
      // panel, hash-gated since r13 (was rows-only on the
      // DataSketches binary states).
      Sql(hllOverlapOracleSql(12))),

    // KMV/theta-sketch set algebra (same slices as sketch_overlap):
    // the principled mergeable INTERSECTION/DIFFERENCE — a k-min
    // keyspace sample scaled by theta, whose error does not blow up
    // on small overlaps the way HLL inclusion–exclusion does. Built
    // on md5Long60, so the sketch state is a SQL relation and the
    // whole panel is hash-gated against the oracle (NOT rows-only).
    Query("sketch_theta_ops", ((s: SparkSession, d: String) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      Profiling.kmvOverlap(ev, "user_id",
        to_date(col("ts")) <= lit("2024-01-15"),
        to_date(col("ts")) > lit("2024-01-15"), k = 256)
    }),
      // Profiling.kmvOverlap: k-min-values sketch per slice over the
      // md5Long60 hash (ORDER BY h LIMIT k over the distinct-hash
      // relation — the sketch state is a plain SQL relation), theta_h =
      // kth hash when saturated else 2^60, set ops restricted below
      // min(theta_h). Estimates are EXACT integers — HUGEINT product
      // (n * 2^60) with truncating `//` division mirrors Spark's
      // DECIMAL(38,0) `div`; no double appears on either engine (the
      // r12 gate caught the old 1e-6 double grid flipping at a
      // boundary).
      Sql("""WITH keyed AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    MAX(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END) AS in_b
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1),
        |ska AS (SELECT h FROM keyed WHERE in_a = 1 ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM keyed WHERE in_b = 1 ORDER BY h LIMIT 256),
        |pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |  CASE WHEN COUNT(*) = 256 THEN MAX(h) ELSE 1152921504606846976 END AS theta_h_a
        |  FROM ska),
        |pb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |  CASE WHEN COUNT(*) = 256 THEN MAX(h) ELSE 1152921504606846976 END AS theta_h_b
        |  FROM skb),
        |th AS (SELECT n_a, n_b, theta_h_a, theta_h_b,
        |  LEAST(theta_h_a, theta_h_b) AS theta_h FROM pa CROSS JOIN pb),
        |j AS (
        |  SELECT COALESCE(a.h, b.h) AS h,
        |    a.h IS NOT NULL AS ia, b.h IS NOT NULL AS ib
        |  FROM ska a FULL OUTER JOIN skb b ON a.h = b.h),
        |cnt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
        |    CAST(COALESCE(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_intersect,
        |    CAST(COALESCE(SUM(CASE WHEN ia AND NOT ib THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_diff_ab
        |  FROM j CROSS JOIN th WHERE h < theta_h)
        |SELECT n_union, n_intersect, n_diff_ab,
        |  theta_h,
        |  CAST((CAST(CASE WHEN n_a = 256 THEN 255 ELSE n_a END AS HUGEINT)
        |    * 1152921504606846976) // theta_h_a AS BIGINT) AS est_a,
        |  CAST((CAST(CASE WHEN n_b = 256 THEN 255 ELSE n_b END AS HUGEINT)
        |    * 1152921504606846976) // theta_h_b AS BIGINT) AS est_b,
        |  CAST((CAST(n_union AS HUGEINT) * 1152921504606846976) // theta_h AS BIGINT) AS est_union,
        |  CAST((CAST(n_intersect AS HUGEINT) * 1152921504606846976) // theta_h AS BIGINT) AS est_intersect,
        |  CAST((CAST(n_diff_ab AS HUGEINT) * 1152921504606846976) // theta_h AS BIGINT) AS est_diff_ab,
        |  CASE WHEN n_union > 0
        |    THEN CAST((n_intersect * 1000000) // n_union AS BIGINT) END AS jaccard_ppm
        |FROM cnt CROSS JOIN th""".stripMargin)),

    // Mergeable KMV distinct rollup (daily k-min lists -> weekly
    // estimates): the D65 HLL-rollup shape with EXACT merge (weekly
    // rollup == direct weekly sketch, spec-pinned) and a SQL-relation
    // sketch state, so the stored-sketch rollup tier gets a
    // hash-gated member next to the rows-only HLL/KLL ones.
    Query("sketch_kmv_rollup", ((s: SparkSession, d: String) =>
      Profiling.kmvRollup(t(s, d, "events"), "ts", "user_id", k = 256)),
      // Profiling.kmvRollup: per-day k-min over the distinct (day,
      // hash) relation, weekly = k-min of the daily retained union
      // (exact KMV merge), exclusive-theta estimate as an EXACT
      // integer (HUGEINT product + truncating // — mirrors Spark's
      // DECIMAL div; no double on either engine).
      Sql("""WITH hashed AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |daily AS (
        |  SELECT day, h FROM hashed
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) <= 256),
        |wk0 AS (
        |  SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS week, h
        |  FROM daily),
        |weekly AS (
        |  SELECT week, h FROM wk0
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) <= 256),
        |nd AS (
        |  SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |p AS (
        |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_retained, MAX(h) AS hmax
        |  FROM weekly GROUP BY 1),
        |q AS (
        |  SELECT week, n_retained,
        |    CASE WHEN n_retained = 256 THEN hmax ELSE 1152921504606846976 END AS theta_h
        |  FROM p)
        |SELECT q.week, nd.n_days, q.n_retained,
        |  theta_h,
        |  CAST((CAST(CASE WHEN n_retained = 256 THEN 255 ELSE n_retained END AS HUGEINT)
        |    * 1152921504606846976) // theta_h AS BIGINT) AS est_distinct
        |FROM q JOIN nd ON nd.week = q.week""".stripMargin)),

    // Count-min sketch frequency estimation (batch twin of the
    // Misra–Gries streaming sink): 4x256 md5-salted cell grid over
    // corpus tokens, per-token min-of-cells estimate vs exact for the
    // top-40 — constant sketch memory regardless of vocabulary.
    Query("sketch_countmin", ((s: SparkSession, d: String) =>
      Profiling.countMinTopN(
        t(s, d, "documents").select(
          explode(TextOps.tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= ""),
        "tok", d = 4, w = 256, topN = 40)),
      // Profiling.countMinTopN: 4x256 salted md5 cell grid, estimate
      // = min over the item's 4 cells, top-40 by exact count.
      Sql(s"""WITH it AS (
         |  SELECT token AS item FROM (
         |    SELECT UNNEST($toksSql) AS token FROM documents)
         |  WHERE token <> ''),
         |rs AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT r,
         |    CAST(concat('0x', substr(md5(concat_ws('|', CAST(r AS VARCHAR), item)), 1, 8)) AS BIGINT) % 256 AS bucket,
         |    COUNT(*) AS cell_n
         |  FROM it CROSS JOIN rs GROUP BY 1, 2),
         |exact AS (SELECT item, COUNT(*) AS n_exact FROM it GROUP BY 1),
         |est AS (
         |  SELECT e.item, e.n_exact, MIN(c.cell_n) AS n_est
         |  FROM exact e CROSS JOIN rs
         |  JOIN cells c ON c.r = rs.r AND c.bucket =
         |    CAST(concat('0x', substr(md5(concat_ws('|', CAST(rs.r AS VARCHAR), e.item)), 1, 8)) AS BIGINT) % 256
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_exact DESC, item) AS rank
         |  FROM est)
         |SELECT rank, item, n_exact, n_est, n_est - n_exact AS overcount
         |FROM rk WHERE rank <= 40""".stripMargin)),

    // Exact-n weighted sample without replacement (A-ES, md5 uniforms,
    // quantized-ln rank) — budgeted weight-proportional selection.
    Query("sample_weighted_n", ((s: SparkSession, d: String) =>
      Sampling.weightedSampleN(t(s, d, "events"), "event_id", "value", n = 500)),
      // Same md5 uniform, same quantized-ln rank, same total order.
      Sql("""SELECT * FROM (
        |  SELECT *,
        |    FLOOR(LN((CAST(concat('0x', substr(md5(
        |        COALESCE(CAST(event_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
        |      + 1.0) / 4294967296.0)
        |      / CAST(value AS DOUBLE) * 1e9) / 1e9 AS sample_rank_key
        |  FROM events
        |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND value > 0)
        |ORDER BY sample_rank_key DESC, event_id
        |LIMIT 500""".stripMargin)),

    // Per-group winsorization to the exact [p05, p95] band.
    Query("sample_winsorize", ((s: SparkSession, d: String) =>
      Sampling.winsorize(
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"),
            upper(trim(col("event_type"))).as("event_type_norm"), col("value")),
        "event_type_norm", "value", pLo = 0.05, pHi = 0.95)),
      // Exact-percentile band (the F2 percentile==quantile_cont parity),
      // pure least/greatest clip.
      Sql("""WITH ev AS (
        |  SELECT event_id, UPPER(TRIM(event_type)) AS event_type_norm, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type_norm,
        |    quantile_cont(value, 0.05) AS p_lo,
        |    quantile_cont(value, 0.95) AS p_hi
        |  FROM ev GROUP BY 1)
        |SELECT event_type_norm, event_id, value, p_lo, p_hi,
        |  LEAST(GREATEST(value, p_lo), p_hi) AS value_winsorized,
        |  (value < p_lo OR value > p_hi) AS was_clipped
        |FROM ev JOIN b USING (event_type_norm)""".stripMargin)),

    // Sketch profile: mergeable HLL distinct + t-digest quantiles per
    // group — the 100-TB shapes for COUNT(DISTINCT)/PERCENTILE when
    // exactness is traded for constant memory. Sketches are
    // implementation-defined, so this row keeps the rows-only check;
    // SamplingSketchSpec bounds the error against the exact answers.
    Query("sketch_profile", ((s: SparkSession, d: String) =>
      t(s, d, "events")
        .groupBy(upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(
          count(lit(1)).as("n_events"),
          approx_count_distinct(col("user_id")).as("approx_users"),
          round(percentile_approx(col("value"), lit(0.5), lit(10000)), 2)
            .as("approx_median_value"),
          round(percentile_approx(col("value"), lit(0.9), lit(10000)), 2)
            .as("approx_p90_value"))),
      RowsOnly("sketch: HLL and percentile_approx states are implementation-defined",
        pinnedBy = "SamplingSketchSpec"))
  )

  /** Profiling.hllOverlapReplayable mirrored: md5Long60 → top-lgK-bit
    * buckets, the leading-zero rank as the same descending exact
    * threshold CASE chain, register-max panels, the exact-integer raw
    * estimate (HUGEINT `//` ≡ Spark DECIMAL `div`), the gridded-ln
    * linear-counting branch, and the integer-ppm Jaccard.
    */
  private def hllOverlapOracleSql(lgK: Int): String = {
    val m = 1 << lgK
    val w = 60 - lgK
    val two = BigInt(2)
    val alphaDen = BigInt(10000) * (1000L * m + 1079)
    val rawNum = BigInt(7213000) * m * m * m * two.pow(w + 1)
    val rankCase = (1 to w).map(r =>
      s"WHEN rem >= ${two.pow(w - r)} THEN $r").mkString(" ")
    def panel(src: String, suffix: String): String =
      s"""p$suffix AS (
         |  SELECT CAST($m - COUNT(*) AS BIGINT) AS v_$suffix,
         |    CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (${w + 1} - M)), 0)
         |      + ($m - COUNT(*)) * ${two.pow(w + 1)} AS BIGINT) AS s_$suffix
         |  FROM (SELECT bucket, MAX(rank) AS M FROM br WHERE $src GROUP BY 1))""".stripMargin
    def est(suffix: String): String =
      s"""CASE WHEN CAST(CAST('$rawNum' AS HUGEINT)
         |      // (CAST(s_$suffix AS HUGEINT) * $alphaDen) AS BIGINT) <= ${5L * m / 2}
         |    AND v_$suffix > 0
         |  THEN CAST(FLOOR(CAST($m AS DOUBLE)
         |    * LN(CAST($m AS DOUBLE) / CAST(v_$suffix AS DOUBLE)) * 1e6) / 1e6
         |    AS DECIMAL(28,6))
         |  ELSE CAST(CAST(CAST('$rawNum' AS HUGEINT)
         |    // (CAST(s_$suffix AS HUGEINT) * $alphaDen) AS BIGINT) AS DECIMAL(28,6))
         |END""".stripMargin
    s"""WITH keyed AS (
       |  SELECT h, MAX(a) AS in_a, MAX(b) AS in_b FROM (
       |    SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
       |      CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 0 END AS a,
       |      CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS b
       |    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
       |  GROUP BY 1 HAVING MAX(a) = 1 OR MAX(b) = 1),
       |br AS (
       |  SELECT h // ${two.pow(w)} AS bucket,
       |    in_a, in_b,
       |    CASE $rankCase ELSE ${w + 1} END AS rank
       |  FROM (SELECT h, h % ${two.pow(w)} AS rem, in_a, in_b FROM keyed)),
       |${panel("in_a = 1", "a")},
       |${panel("in_b = 1", "b")},
       |${panel("TRUE", "u")},
       |e AS (
       |  SELECT ${est("a")} AS est_a, ${est("b")} AS est_b,
       |    ${est("u")} AS est_union
       |  FROM pa CROSS JOIN pb CROSS JOIN pu),
       |e2 AS (
       |  SELECT est_a, est_b, est_union,
       |    GREATEST(CAST(0 AS DECIMAL(28,6)),
       |      CAST(est_a + est_b - est_union AS DECIMAL(28,6))) AS est_intersect
       |  FROM e)
       |SELECT est_a, est_b, est_union, est_intersect,
       |  CASE WHEN est_union > 0 THEN
       |    CAST((CAST(est_intersect * 1000000 AS HUGEINT) * 1000000)
       |      // CAST(est_union * 1000000 AS HUGEINT) AS BIGINT) END AS jaccard_ppm
       |FROM e2""".stripMargin
  }
}
