package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured-streaming twins of the batch operators.
  *
  * The reference materializes fct_boardings_30m as a batch reload; at
  * 100 TB/day the same grain is maintained incrementally: a watermark
  * bounds state, tumbling windows aggregate with map-side partial
  * aggregation, and sessionization keeps one small state object per
  * active user key.
  */
object StreamOps {

  /** Tumbling 30-minute aggregation (streaming twin of the
    * `stream_events_30m` batch query — same grain as the reference's
    * fct_boardings_30m, reference: src/gold/load_gold.py:1518+).
    */
  def events30m(events: DataFrame, watermark: Option[String] = Some("1 hour")): DataFrame =
    withWatermarkOpt(events, watermark)
      .groupBy(window(col("ts"), "30 minutes").as("w"),
        upper(trim(col("event_type"))).as("event_type_norm"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 18, 2)).cast("double").as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type_norm"),
        col("n_events"), col("value_sum"))

  /** Sliding-window twin (1h window / 30m slide) of the batch
    * `stream_events_sliding` query: identical expression tree, plus a
    * watermark bounding the state to the open window horizon. Each
    * event expands into exactly windowDuration/slide = 2 state keys.
    */
  def eventsSliding(events: DataFrame, watermark: Option[String] = Some("1 hour")): DataFrame =
    withWatermarkOpt(events, watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        upper(trim(col("event_type"))).as("event_type_norm"))
      .agg(count(lit(1)).as("n_events"),
        coalesce(round(sum(graft.expressions.Kernels.toDecimal(col("value").cast("double"), 18, 2)), 2), lit(0))
          .cast("double").as("value_sum"))
      .select(col("w").getField("start").as("window_start"),
        col("event_type_norm"), col("n_events"), col("value_sum"))

  /** Spark disallows redefining a watermark between stateful operators
    * in one chain, so every operator takes `Some(delay)` to define it
    * or `None` to inherit the upstream definition when composed.
    */
  private def withWatermarkOpt(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(events)(events.withWatermark("ts", _))

  /** Streaming drift monitor: per event-time window, the bucketed
    * value histogram a `Drift.chi2Histogram`-style gate consumes —
    * the windows are the rolling "new" slice against any stored
    * baseline. Bucket bounds are FIXED ARGUMENTS (lo, hi): a
    * streaming operator cannot scan twice for min/max, and a
    * monitoring gate wants a stable bucket space across windows
    * anyway (shifting bounds would make histograms incomparable).
    * Out-of-range values clamp into the edge buckets, so no row is
    * silently dropped. State = one count per (window, bucket) ≤ k
    * per window, expired by the watermark.
    */
  def valueHistogram(events: DataFrame, lo: Double, hi: Double, k: Int,
                     windowDur: String = "30 minutes",
                     watermark: Option[String] = Some("1 hour")): DataFrame = {
    require(k >= 1, s"need at least one bucket: $k")
    require(lo < hi, s"need lo < hi: [$lo, $hi)")
    val bucket = least(lit(k - 1), greatest(lit(0),
      floor((col("value") - lit(lo)) / lit((hi - lo) / k)).cast("int")))
    withWatermarkOpt(events, watermark)
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), windowDur).as("w"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("w.start").as("window_start"), col("bucket"), col("n_rows"))
  }

  /** Streaming drift-ALERT sink: per micro-batch, the batch's value
    * distribution is scored against a FIXED baseline histogram and
    * ONE alert row (`batch_id, n_rows, chi2, tv_dist, psi,
    * n_buckets_skipped, alert`) is appended to the target — the
    * alerting VERDICT layer over [[valueHistogram]]'s raw counts,
    * maintained incrementally (the batch gate a 100-TB ingestion
    * pipeline fires BEFORE committing a suspect batch downstream).
    *
    * The baseline is bucket COUNTS over the same fixed [lo, hi)
    * bucket space (the E16 rule: stable buckets, edge clamping so
    * nothing drops silently). The batch collapses to ≤ k bucket
    * counts in one partial agg; the verdict arithmetic runs on those
    * k scalars (panel-sized — the same class as the sinks' commit
    * markers, nothing data-shaped at the driver). Replayed batch ids
    * no-op under the shared writer-identity rule.
    */
  def driftAlertSink(stream: DataFrame, checkpoint: String, target: String,
                     valueCol: String, baselineCounts: Seq[Long],
                     lo: Double, hi: Double, alertTv: Double = 0.2): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(
      driftAlertBatch(_, target, valueCol, baselineCounts, lo, hi, alertTv, _))

  private[graft] def driftAlertBatch(batch: DataFrame, target: String,
                                     valueCol: String, baselineCounts: Seq[Long],
                                     lo: Double, hi: Double, alertTv: Double,
                                     batchId: Long,
                                     writerId: Option[String] = None): Unit = {
    val k = baselineCounts.size
    require(k >= 2, s"need at least 2 baseline buckets: $k")
    require(lo < hi, s"need lo < hi: [$lo, $hi)")
    val bucket = least(lit(k - 1), greatest(lit(0),
      floor((col(valueCol) - lit(lo)) / lit((hi - lo) / k)).cast("int")))
    val counts = batch.filter(col(valueCol).isNotNull)
      .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val obs = (0 until k).map(i => counts.getOrElse(i, 0L))
    val nNew = obs.sum
    val nOld = baselineCounts.sum
    require(nOld > 0, "driftAlertBatch: empty baseline")
    var (chi2, tv, psi, js) = (0.0, 0.0, 0.0, 0.0)
    var skipped = 0L
    if (nNew > 0) (0 until k).foreach { i =>
      val pOld = baselineCounts(i).toDouble / nOld
      val pNew = obs(i).toDouble / nNew
      val diff = pNew - pOld
      tv += math.abs(diff)
      if (baselineCounts(i) > 0) chi2 += diff * diff / pOld else skipped += 1
      if (baselineCounts(i) > 0 && obs(i) > 0) psi += diff * math.log(pNew / pOld)
      // JS over the mixture midpoint: symmetric and finite on
      // one-sided buckets (0·ln 0 = 0), the batch twin of
      // Drift.jsHistogram — bounded [0, ln 2], so it is the score a
      // fleet-wide dashboard can compare across columns
      val m = (pOld + pNew) / 2.0
      if (pOld > 0) js += 0.5 * pOld * math.log(pOld / m)
      if (pNew > 0) js += 0.5 * pNew * math.log(pNew / m)
    }
    tv *= 0.5
    val spark = batch.sparkSession
    import spark.implicits._
    val row = Seq((batchId, nNew, chi2, tv, psi, js, skipped,
        nNew > 0 && tv >= alertTv))
      .toDF("batch_id", "n_rows", "chi2", "tv_dist", "psi", "js_div",
        "n_buckets_skipped", "alert")
    // allowMissingColumns: a target written by a pre-js_div build has
    // 7 columns — the append must EVOLVE the store (old rows surface
    // NULL js_div), not crash the stream on a schema mismatch
    upsertParquet(batch.sparkSession, target, row,
      existing => existing.unionByName(row, allowMissingColumns = true),
      batchId, writerId)
  }

  /** Streaming CUSUM changepoint ALERT sink — the sequential twin of
    * the batch binseg/cusum pair: per micro-batch, the batch mean's
    * deviation from a FIXED baseline mean folds into a running
    * cumulative sum carried in the TARGET itself (the last appended
    * row is the state — restart-safe because the store IS the
    * checkpoint; replayed batch ids no-op under the writer-identity
    * rule so the walk never double-counts). One alert row per batch:
    * `batch_id, batch_seq, n_rows, batch_mean, deviation, cusum,
    * alert` with `alert = |cusum| >= threshold` — a persistent mean
    * drift accumulates linearly while noise cancels, the classic
    * sequential-detection shape.
    *
    * Scale: the batch collapses to one (count, decimal-sum) panel
    * row; the previous cusum is a 1-row max-struct read of the
    * bounded alert store. Nothing row-shaped touches the driver.
    */
  def cusumAlertSink(stream: DataFrame, checkpoint: String, target: String,
                     valueCol: String, baselineMean: Double,
                     threshold: Double): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(cusumAlertBatch(_, target, valueCol, baselineMean, threshold, _))

  private[graft] def cusumAlertBatch(batch: DataFrame, target: String,
                                     valueCol: String, baselineMean: Double,
                                     threshold: Double, batchId: Long,
                                     writerId: Option[String] = None): Unit = {
    require(threshold > 0, s"cusumAlertBatch: threshold must be positive: $threshold")
    import org.apache.spark.sql.types.DecimalType
    val spark = batch.sparkSession
    import spark.implicits._
    val p = batch.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((floor(col(valueCol).cast("double") * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).as("s"))
      .head()
    val n = p.getLong(0)
    val mean: Option[Double] =
      if (n == 0) None
      else Some(p.getDecimal(1).doubleValue() / n.toDouble)
    val deviation = mean.map(_ - baselineMean).getOrElse(0.0)
    def mkRow(seq: Long, cusum: Double): DataFrame =
      Seq((batchId, seq, n, mean, deviation, cusum,
          math.abs(cusum) >= threshold))
        .toDF("batch_id", "batch_seq", "n_rows", "batch_mean",
          "deviation", "cusum", "alert")
    upsertParquet(batch.sparkSession, target, mkRow(0L, deviation), { existing =>
      // 1-row panel: the latest appended row carries the walk's state
      val prev = existing
        .agg(max(struct(col("batch_seq"), col("cusum"))).as("m"))
        .select(col("m.batch_seq").as("seq"), col("m.cusum").as("c"))
        .head()
      val (seq, c) =
        if (prev.isNullAt(0)) (0L, 0.0) else (prev.getLong(0) + 1, prev.getDouble(1))
      existing.unionByName(mkRow(seq, c + deviation),
        allowMissingColumns = true)
    }, batchId, writerId)
  }

  /** Streaming SCHEMA-DRIFT sink — the streaming twin of the batch
    * audit_schema_drift: per micro-batch, run the lexical type
    * inference over the declared bronze columns and append one row
    * per column with the batch's inferred type, its null rate, and a
    * verdict against the EXPECTED type — so a producer that silently
    * starts shipping alpha ids or all-NULL columns trips the monitor
    * on the batch that breaks, not in a downstream incident. Replayed
    * batch ids no-op under the shared writer-identity rule.
    *
    * Scale: inference is one scan per declared column collapsing to a
    * 1-row panel (the TypedCoerce shape); the appended store grows by
    * |cols| rows per batch — monitoring-sized, never data-sized.
    */
  def schemaDriftSink(stream: DataFrame, checkpoint: String, target: String,
                      cols: Seq[String], expected: Map[String, String]): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(schemaDriftBatch(_, target, cols, expected, _))

  private[graft] def schemaDriftBatch(batch: DataFrame, target: String,
                                      cols: Seq[String],
                                      expected: Map[String, String],
                                      batchId: Long,
                                      writerId: Option[String] = None): Unit = {
    require(cols.nonEmpty && cols.forall(expected.contains),
      s"every checked column needs an expected type: $cols vs ${expected.keys}")
    val inferred = graft.operators.TypedCoerce.inferTypes(batch, cols)
    val expectedCol = element_at(
      typedlit(expected), col("column_name"))
    val rows = inferred.select(
        lit(batchId).as("batch_id"), col("column_name"),
        col("n_rows"), col("n_nonnull"),
        when(col("n_rows") === 0, lit(1.0))
          .otherwise(lit(1.0) -
            col("n_nonnull").cast("double") / col("n_rows").cast("double"))
          .as("null_rate"),
        col("suggested_type").as("inferred_type"),
        expectedCol.as("expected_type"))
      .withColumn("type_ok", col("inferred_type") === col("expected_type"))
    upsertParquet(batch.sparkSession, target, rows,
      existing => existing.unionByName(rows, allowMissingColumns = true),
      batchId, writerId)
  }

  /** Streaming exact dedup on the event key: late re-deliveries inside
    * the watermark are dropped with bounded state
    * (`dropDuplicatesWithinWatermark` — state expires with the
    * watermark instead of growing forever like `dropDuplicates`).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: Option[String] = Some("1 hour")): DataFrame =
    withWatermarkOpt(events, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static dimension enrichment: the static side is a lookup
    * dim, broadcast per micro-batch — the streaming twin of the star
    * fact's SK-resolution LEFT JOINs.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      events(eventKey) === dim(dimKey), "left")

  /** STREAM-STREAM event-time attribution join: each `purchase` pairs
    * with the same key's `clicks` whose event time falls in
    * `[purchase_ts - windowSec, purchase_ts]` — the classic
    * click-to-conversion attribution shape. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, so Spark can size the state store and expire rows:
    * state per key is O(events inside the watermark+window horizon),
    * never unbounded. Column names must already be disambiguated
    * (clickTs/purchaseTs) — stream-stream joins resolve by name.
    *
    * The batch twin (`attrib_click_purchase` in the registry) is the
    * same equi-key + interval-residual join — Catalyst plans the key
    * into a hash join with the time bound as residual, never a
    * cartesian (the AsOfJoin doctrine).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      key: String, clickTs: String, purchaseTs: String,
                      windowSec: Long, watermark: String = "1 hour"): DataFrame = {
    // a non-positive window would parse into an unsatisfiable interval
    // condition: the stream would run forever emitting nothing
    require(windowSec > 0, s"attribution window must be positive: $windowSec")
    clicks.withWatermark(clickTs, watermark)
      .join(purchases.withWatermark(purchaseTs, watermark),
        clicks(key) === purchases(key) &&
          col(clickTs) >= col(purchaseTs) - expr(s"INTERVAL $windowSec SECONDS") &&
          col(clickTs) <= col(purchaseTs),
        "inner")
      .drop(purchases(key))
  }

  /** LEFT-OUTER twin of [[attributionJoin]] — every click emits: with
    * its purchase when one arrives in the window, or with NULL
    * purchase columns once the watermark proves none can (the
    * "unconverted clicks" side the inner join silently drops, which
    * is exactly the population a conversion-rate or remarketing
    * pipeline needs). Outer-result timing is the stream-stream
    * contract: the null row is emitted only after the click's event
    * time falls behind `watermark + windowSec` — correctness first,
    * latency bounded by the horizon. Same bounded state as the inner
    * form; the watermark delay also sets how long a click waits
    * before being declared unmatched.
    */
  def attributionJoinLeftOuter(clicks: DataFrame, purchases: DataFrame,
                               key: String, clickTs: String, purchaseTs: String,
                               windowSec: Long, watermark: String = "1 hour"): DataFrame = {
    require(windowSec > 0, s"attribution window must be positive: $windowSec")
    clicks.withWatermark(clickTs, watermark)
      .join(purchases.withWatermark(purchaseTs, watermark),
        clicks(key) === purchases(key) &&
          col(clickTs) >= col(purchaseTs) - expr(s"INTERVAL $windowSec SECONDS") &&
          col(clickTs) <= col(purchaseTs),
        "left_outer")
      .drop(purchases(key))
  }

  /** Stream-stream point-in-interval JOIN — the batch range-join
    * bucketization (graft.operators.RangeJoin.pointInInterval) run
    * inside watermarks: a `lo ≤ p ≤ hi` theta condition alone gives a
    * stream-stream join no equi-key and no bounded state, so each
    * interval explodes to its covered fixed-width time buckets
    * (codegen `sequence`, fan-out capped by `maxSpanSec/bucketSec`)
    * and each point keys to its one bucket — bucket equality IS the
    * equi-key, the exact `[lo, hi]` test rides as the residual, and a
    * qualifying pair meets in exactly ONE bucket (the point's own),
    * so no dedup is ever needed.
    *
    * State stays bounded by the watermarks plus the explicit
    * event-time range `lo ≤ p ≤ lo + maxSpanSec` between the two
    * watermarked columns — which is also why `maxSpanSec` is a hard
    * CONTRACT: an interval longer than it could match points the
    * state constraint has already evicted, so such a row fails
    * loudly (raise_error) instead of silently under-joining.
    * Inclusive on both ends, like the batch twin; null/inverted
    * intervals drop by contract.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pointTs: String, loTs: String, hiTs: String,
                   maxSpanSec: Long, bucketSec: Long,
                   watermark: String = "1 hour"): DataFrame = {
    require(maxSpanSec > 0, s"maxSpanSec must be positive: $maxSpanSec")
    require(bucketSec > 0, s"bucketSec must be positive: $bucketSec")
    require(maxSpanSec / bucketSec + 1 <= graft.operators.RangeJoin.MaxBucketsPerInterval,
      s"maxSpanSec/bucketSec fan-out ${maxSpanSec / bucketSec + 1} exceeds " +
        s"${graft.operators.RangeJoin.MaxBucketsPerInterval} buckets per interval")
    def bucketOf(c: Column): Column =
      ((c - pmod(c, lit(bucketSec))) / lit(bucketSec)).cast("long")
    val p = points.withWatermark(pointTs, watermark)
      .filter(col(pointTs).isNotNull)
      .withColumn("__graft_bp", bucketOf(unix_seconds(col(pointTs))))
    val iv = intervals.withWatermark(loTs, watermark)
      .filter(col(loTs).isNotNull && col(hiTs).isNotNull &&
        col(loTs) <= col(hiTs))
      .withColumn("__graft_bi", explode(
        when(col(hiTs) > col(loTs) + expr(s"INTERVAL $maxSpanSec SECONDS"),
          raise_error(concat(
            lit("intervalJoin: interval ["), col(loTs).cast("string"),
            lit(", "), col(hiTs).cast("string"),
            lit(s"] spans more than the declared maxSpanSec=$maxSpanSec — " +
              "matches beyond it would be silently lost to state eviction; " +
              "raise maxSpanSec or quarantine the interval"))))
          .otherwise(sequence(bucketOf(unix_seconds(col(loTs))),
            bucketOf(unix_seconds(col(hiTs)))))))
    p.join(iv,
        col("__graft_bp") === col("__graft_bi") &&
          col(pointTs) >= col(loTs) && col(pointTs) <= col(hiTs) &&
          col(pointTs) <= col(loTs) + expr(s"INTERVAL $maxSpanSec SECONDS"),
        "inner")
      .drop("__graft_bp", "__graft_bi")
  }

  /** Stream-stream interval-OVERLAP join — the E18 bucketization and
    * bucket-OWNERSHIP rule run inside watermarks: both interval
    * streams explode to their covered fixed-width time buckets,
    * bucket equality is the stream-stream equi-key, the exact
    * `loA ≤ hiB AND loB ≤ hiA` closed-ends test rides as the
    * residual, and a qualifying pair is emitted ONLY in
    * `max(bucket(loA), bucket(loB))` — the first bucket both
    * intervals provably cover — so each pair appears exactly once
    * with NO dedup state. Both sides declare the same `maxSpanSec`
    * contract (loud failure past it, as in [[intervalJoin]]); the
    * overlap condition plus the span bound imply
    * `loB ∈ [loA − maxSpan, loA + maxSpan]`, which is stated
    * explicitly so the state store can evict by event time.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          loA: String, hiA: String, loB: String, hiB: String,
                          maxSpanSec: Long, bucketSec: Long,
                          watermark: String = "1 hour"): DataFrame = {
    require(maxSpanSec > 0, s"maxSpanSec must be positive: $maxSpanSec")
    require(bucketSec > 0, s"bucketSec must be positive: $bucketSec")
    require(maxSpanSec / bucketSec + 1 <= graft.operators.RangeJoin.MaxBucketsPerInterval,
      s"maxSpanSec/bucketSec fan-out ${maxSpanSec / bucketSec + 1} exceeds " +
        s"${graft.operators.RangeJoin.MaxBucketsPerInterval} buckets per interval")
    def bucketOf(c: Column): Column =
      ((c - pmod(c, lit(bucketSec))) / lit(bucketSec)).cast("long")
    def explodeSide(df: DataFrame, lo: String, hi: String, b: String) =
      df.withWatermark(lo, watermark)
        .filter(col(lo).isNotNull && col(hi).isNotNull && col(lo) <= col(hi))
        .withColumn(b, explode(
          when(col(hi) > col(lo) + expr(s"INTERVAL $maxSpanSec SECONDS"),
            raise_error(concat(
              lit("intervalOverlapJoin: interval ["), col(lo).cast("string"),
              lit(", "), col(hi).cast("string"),
              lit(s"] spans more than the declared maxSpanSec=$maxSpanSec — " +
                "matches beyond it would be silently lost to state eviction"))))
            .otherwise(sequence(bucketOf(unix_seconds(col(lo))),
              bucketOf(unix_seconds(col(hi)))))))
    val l = explodeSide(left, loA, hiA, "__graft_bl")
    val r = explodeSide(right, loB, hiB, "__graft_br")
    l.join(r,
        col("__graft_bl") === col("__graft_br") &&
          col(loA) <= col(hiB) && col(loB) <= col(hiA) &&
          col(loB) >= col(loA) - expr(s"INTERVAL $maxSpanSec SECONDS") &&
          col(loB) <= col(loA) + expr(s"INTERVAL $maxSpanSec SECONDS") &&
          col("__graft_bl") === greatest(bucketOf(unix_seconds(col(loA))),
            bucketOf(unix_seconds(col(loB)))),
        "inner")
      .drop("__graft_bl", "__graft_br")
  }

  /** Streaming MERGE-on-grain sink: each micro-batch is deduped to
    * the declared grain and appended WHEN-NOT-MATCHED into the target
    * (graft.operators.Merge.appendNewGrains per batch — the
    * reference's idempotent fact MERGE, maintained incrementally).
    * Re-delivered or replayed grains never duplicate: the first
    * delivery of a grain wins across batches, latest-in-batch wins
    * within one.
    *
    * The parquet target is replaced through the crash-safe checked-
    * rename swap (MedallionSink.replaceDir — the merged frame writes to
    * a tmp directory, never over the files it reads, so no mid-query
    * overwrite is possible). On a lake with a transactional table
    * format the same foreachBatch body becomes a real MERGE INTO;
    * exactly-once then comes from the checkpoint's batch-id dedup
    * plus the sink's idempotence — which this merge rule provides by
    * construction.
    */
  def mergeSink(stream: DataFrame, checkpoint: String, target: String,
                grain: Seq[String], order: Seq[String]): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(mergeBatchToParquet(_, target, grain, order, _))

  private[graft] def mergeBatchToParquet(batch: DataFrame, target: String,
                                             grain: Seq[String], order: Seq[String],
                                             batchId: Long,
                                             writerId: Option[String] = None): Unit = {
    import graft.operators.{Dedup, Merge}
    val incoming = Dedup.latestByGrain(batch, grain, order)
    upsertParquet(batch.sparkSession, target, incoming, existing =>
      Merge.appendNewGrains(existing, incoming, grain), batchId, writerId)
  }

  /** Streaming rollup maintenance: each micro-batch reduces to its
    * partial aggregate (map-side, tiny) and folds into the stored
    * rollup by grain-keyed summation (graft.operators.Merge
    * .mergeAggregate) — the streaming form of `gold_agg_incremental`:
    * the rollup is all that is ever stored, raw history is never
    * re-scanned, and the result equals a batch recompute over
    * everything streamed so far (spec-pinned). `partial` must produce
    * mergeable partials (counts / decimal sums) keyed by `keys`.
    * Batch-id replays no-op via the shared commit marker, so
    * at-least-once delivery never double-counts a batch — double
    * counting is THE failure mode of incremental rollups.
    */
  def aggSink(stream: DataFrame, checkpoint: String, target: String,
              keys: Seq[String], partial: DataFrame => DataFrame): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(aggBatchToParquet(_, target, keys, partial, _))

  private[graft] def aggBatchToParquet(batch: DataFrame, target: String,
                                       keys: Seq[String],
                                       partial: DataFrame => DataFrame,
                                       batchId: Long,
                                       writerId: Option[String] = None): Unit = {
    import graft.operators.Merge
    val p = partial(batch)
    upsertParquet(batch.sparkSession, target, p, existing =>
      Merge.mergeAggregate(existing, p, keys), batchId, writerId)
  }

  /** Streaming SKETCH-TABLE sink: maintains a persisted per-key HLL
    * sketch table — the streaming twin of the batch mergeable-HLL
    * rollup ([[graft.operators.Profiling.hllRollup]]): each
    * micro-batch collapses to per-key sketches (`hll_sketch_agg`) and
    * folds into the stored table with the scalar `hll_union`, so
    * exact `COUNT(DISTINCT)` state NEVER accumulates — the table
    * holds one fixed-size sketch per key however many distincts
    * stream through, and any coarser grain is answerable later by
    * unioning stored sketches. Batch-id replays no-op under the
    * same identity rule as the other replay-guarded sinks.
    */
  def sketchSink(stream: DataFrame, checkpoint: String, target: String,
                 keys: Seq[String], valueCol: String, lgK: Int = 12): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(sketchBatchToParquet(_, target, keys, valueCol, lgK, _))

  private[graft] def sketchBatchToParquet(batch: DataFrame, target: String,
                                          keys: Seq[String], valueCol: String,
                                          lgK: Int,
                                          batchId: Long,
                                          writerId: Option[String] = None): Unit = {
    val p = batch.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
    upsertParquet(batch.sparkSession, target, p, { existing =>
      val e = existing.select(keys.map(col) :+ col("sk").as("__sk_old") :+
        col("n_rows").as("__n_old"): _*)
      // full outer on the key: union sketches where both sides exist,
      // pass through the single side otherwise (hll_union rejects null
      // inputs — the CASE keeps it off the null branches)
      e.join(p.select(keys.map(col) :+ col("sk").as("__sk_new") :+
          col("n_rows").as("__n_new"): _*).hint("shuffle_hash"),
          keys, "full_outer")
        .select(keys.map(col) :+
          when(col("__sk_old").isNotNull && col("__sk_new").isNotNull,
            hll_union(col("__sk_old"), col("__sk_new")))
            .otherwise(coalesce(col("__sk_new"), col("__sk_old"))).as("sk") :+
          (coalesce(col("__n_old"), lit(0L)) +
            coalesce(col("__n_new"), lit(0L))).as("n_rows"): _*)
    }, batchId, writerId)
  }

  /** Streaming KMV DISTINCT-SKETCH sink — the exact-merge member of
    * the stored-sketch sink trio (HLL [[sketchSink]], KLL [[kllSink]],
    * KMV here) and the streaming twin of
    * [[graft.operators.Profiling.kmvRollup]]: maintains a persisted
    * per-key k-min-hash table — each micro-batch reduces to its own
    * per-key k smallest distinct `md5Long60` hashes and folds into
    * the stored lists by union + re-rank (KMV merge is EXACT: the
    * stored table always equals the k-min a batch recompute over
    * everything streamed so far would produce, spec-pinned — no
    * register-merge approximation, and the state is a plain SQL
    * relation readable by the D97/D98 overlap/estimate panels). At
    * most k rows per key ever stored; batch-id replays no-op under
    * the shared identity rule.
    */
  def kmvSink(stream: DataFrame, checkpoint: String, target: String,
              keys: Seq[String], valueCol: String, k: Int = 256): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(kmvBatchToParquet(_, target, keys, valueCol, k, _))

  private[graft] def kmvBatchToParquet(batch: DataFrame, target: String,
                                       keys: Seq[String], valueCol: String,
                                       k: Int,
                                       batchId: Long,
                                       writerId: Option[String] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"kmvBatchToParquet needs k >= 2: $k")
    def topk(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("h"))))
      .filter(col("__rn") <= k).drop("__rn")
    val p = topk(batch.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+
        graft.operators.Sampling.md5Long60(Seq(col(valueCol))).as("h"): _*)
      .distinct())
    upsertParquet(batch.sparkSession, target, p, existing =>
      // union + re-rank IS the KMV merge; distinct first — the same
      // hash can sit in both the stored list and the batch's
      topk(existing.unionByName(p).distinct()), batchId, writerId)
  }

  /** Streaming KLL QUANTILE-SKETCH sink — the percentile twin of
    * [[sketchSink]]: maintains a persisted per-key KLL sketch table
    * (`graft.operators.Profiling.kllRollup`'s streaming form). Each
    * micro-batch collapses to per-key sketches
    * (`graft.expressions.KllSketchAgg`) and folds into the stored
    * table with the scalar `kll_merge_pair`, so per-key quantile
    * state NEVER accumulates raw values — one fixed-size sketch per
    * key however much streams through, any percentile answerable
    * later from the stored sketch (within the O(1/k) rank envelope),
    * and coarser grains by unioning stored sketches. Batch-id replays
    * no-op under the same identity rule as the other replay-guarded
    * sinks.
    */
  def kllSink(stream: DataFrame, checkpoint: String, target: String,
              keys: Seq[String], valueCol: String, k: Int = 200): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(kllBatchToParquet(_, target, keys, valueCol, k, _))

  private[graft] def kllBatchToParquet(batch: DataFrame, target: String,
                                       keys: Seq[String], valueCol: String,
                                       k: Int,
                                       batchId: Long,
                                       writerId: Option[String] = None): Unit = {
    import graft.expressions.Kll
    // NaN excluded to mirror the sketch's own update policy, so the
    // stored n_rows always equals kll_n(sk)
    val p = batch.filter(col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .groupBy(keys.map(col): _*)
      .agg(Kll.sketchAgg(col(valueCol).cast("double"), k).as("sk"),
        count(lit(1)).as("n_rows"))
    upsertParquet(batch.sparkSession, target, p, { existing =>
      val e = existing.select(keys.map(col) :+ col("sk").as("__sk_old") :+
        col("n_rows").as("__n_old"): _*)
      // full outer on the key: kll_merge_pair is null-tolerant, so
      // single-sided keys pass through unchanged
      e.join(p.select(keys.map(col) :+ col("sk").as("__sk_new") :+
          col("n_rows").as("__n_new"): _*).hint("shuffle_hash"),
          keys, "full_outer")
        .select(keys.map(col) :+
          Kll.mergePair(col("__sk_old"), col("__sk_new")).as("sk") :+
          (coalesce(col("__n_old"), lit(0L)) +
            coalesce(col("__n_new"), lit(0L))).as("n_rows"): _*)
    }, batchId, writerId)
  }

  /** Streaming INCREMENTAL-DEDUP sink — the operational form of the
    * persisted corpus dedup index (TextDedup.buildDedupIndex): each
    * micro-batch of documents probes the stored
    * digests/stops/postings/sizes tables through the SAME decision
    * tail as the batch path (incrementalDedupIndexed — spec-pinned
    * identical surface) and its keep/drop verdicts land in the
    * decisions table, FIRST DECISION WINS per doc id: a document
    * re-delivered in a later batch keeps its original verdict (the
    * stable contract downstream consumers need), and a replayed batch
    * id no-ops entirely via the shared commit-marker identity rule.
    *
    * Corpus refreshes happen OUT OF BAND via buildDedupIndex; every
    * probe reads the manifest's consistent version set, so a refresh
    * concurrent with the stream is never half-visible. Cross-BATCH
    * duplicates (batch 2 repeating batch 1's novel text under a new
    * id) are the refresh cadence's job by design — the index decides
    * against the standing corpus, exactly like the batch operator.
    *
    * Scale shape: per batch = the D95 probe (batch × collision rate)
    * plus one doc-id anti-join against the decisions table — no
    * corpus scan anywhere in the stream's steady state.
    */
  def dedupDecisionSink(stream: DataFrame, checkpoint: String,
                        indexDir: String, target: String,
                        idCol: String, textCol: String,
                        threshold: Double = 0.5): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(
      dedupDecisionBatch(_, indexDir, target, idCol, textCol, threshold, _))

  private[graft] def dedupDecisionBatch(batch: DataFrame, indexDir: String,
                                        target: String, idCol: String,
                                        textCol: String, threshold: Double,
                                        batchId: Long,
                                        writerId: Option[String] = None): Unit = {
    // def, not val: the probe reads the index manifest EAGERLY at
    // plan construction, and upsertParquet's replay guard must be
    // able to no-op a re-delivered batch id before any of that runs;
    // each upsert path (init / merge) evaluates it exactly once.
    // Within-batch re-deliveries of the same doc id collapse FIRST
    // (deterministically — min text, though an id re-delivered with
    // different text is a producer bug): the id is the decision key,
    // and duplicate rows would both double the doc's shingle counts
    // inside the probe and break the one-row-per-id table contract.
    def decisions() = graft.operators.TextDedup.incrementalDedupIndexed(
      batch.sparkSession, indexDir,
      batch.groupBy(col(idCol)).agg(min(col(textCol)).as(textCol)),
      idCol, textCol, threshold)
    upsertParquet(batch.sparkSession, target, decisions(), existing =>
      // first decision wins: only ids the table has never decided
      // append (anti-join on the decision key)
      existing.unionByName(decisions().join(
        existing.select(col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")),
      batchId, writerId)
  }

  /** Streaming HEAVY-HITTER sink: maintains a bounded Misra–Gries
    * summary table of the hottest keys — the streaming twin of the
    * batch skew diagnosis (`skew_hot_keys`): per micro-batch, exact
    * batch counts fold into the stored summary (counts add on the
    * key), then the summary TRUNCATES to `capacity` rows by the MG
    * merge rule — subtract the (capacity+1)-th largest count from
    * every row, drop rows at ≤ 0, accumulate the subtraction into the
    * error bound. `err` is GLOBAL (the same value on every row — the
    * total mass ever decremented): a key absorbed into a truncation
    * and re-entering later still satisfies the bound, which a per-key
    * error could not guarantee. State is ≤ capacity rows forever, and
    * for EVERY key (stored or not): stored cnt (0 if absent)
    * `≤ true count ≤ cnt + err` — the classic N/capacity guarantee,
    * deterministic (no sketch randomness). Batch-id replays no-op
    * under the same identity rule as the other replay-guarded sinks.
    */
  def topkSink(stream: DataFrame, checkpoint: String, target: String,
               keys: Seq[String], capacity: Int = 100): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(topkBatchToParquet(_, target, keys, capacity, _))

  /** MG truncation: after counts are summed, subtract the
    * (capacity+1)-th largest and keep the positive remainder. A row
    * can only survive if it sits in the global top `capacity`, so the
    * global rank runs on a SALTED two-phase pre-filter (top capacity+1
    * per salt group first — the Ann.cosineTopK discipline): the
    * single-ordering window only ever sees ≤ 32·(capacity+1) rows,
    * never a batch-sized key panel.
    */
  private def mgTruncate(summary: DataFrame, keys: Seq[String],
                         capacity: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = col("cnt").desc +: keys.map(col)
    val wSalt = Window.partitionBy(col("__salt")).orderBy(order: _*)
    val pre = summary
      .withColumn("__salt", pmod(hash(keys.map(col): _*), lit(32)))
      .withColumn("__rs", row_number().over(wSalt))
      .filter(col("__rs") <= capacity + 1)
      .drop("__salt", "__rs")
    val ranked = pre.withColumn("__rn",
      row_number().over(Window.orderBy(order: _*)))
    val thr = ranked.agg(
      coalesce(max(when(col("__rn") === capacity + 1, col("cnt"))), lit(0L))
        .as("__t"))
    ranked.crossJoin(broadcast(thr))
      .filter(col("cnt") - col("__t") > 0)
      .select(keys.map(col) :+
        (col("cnt") - col("__t")).as("cnt") :+
        (col("err") + col("__t")).as("err"): _*)
  }

  private[graft] def topkBatchToParquet(batch: DataFrame, target: String,
                                        keys: Seq[String], capacity: Int,
                                        batchId: Long,
                                        writerId: Option[String] = None): Unit = {
    val p = batch
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("err", lit(0L))
    upsertParquet(batch.sparkSession, target, mgTruncate(p, keys, capacity), { existing =>
      // err is global (identical on every stored row): new keys must
      // inherit it, not start at 0 — their pre-history may have been
      // decremented away
      val tOld = existing.agg(coalesce(max(col("err")), lit(0L)).as("__t_old"))
      val merged = existing
        .select(keys.map(col) :+ col("cnt").as("__c_old"): _*)
        .join(p.select(keys.map(col) :+ col("cnt").as("__c_new"): _*)
          .hint("shuffle_hash"), keys, "full_outer")
        .crossJoin(broadcast(tOld))
        .select(keys.map(col) :+
          (coalesce(col("__c_old"), lit(0L)) +
            coalesce(col("__c_new"), lit(0L))).as("cnt") :+
          col("__t_old").as("err"): _*)
      mgTruncate(merged, keys, capacity)
    }, batchId, writerId)
  }

  /** Streaming COUNT-MIN sink: maintains the d×w cell grid of
    * `Profiling.countMinTopN`'s sketch as a tiny parquet table — the
    * sketch-table twin of the Misra–Gries [[topkSink]] with the
    * opposite trade: MG stores the hot KEYS with a global error
    * bound; count-min stores NO keys at all, answering point
    * frequency queries for ANY item at probe time with one-sided
    * error (estimate ≥ true count, inflation bounded by collisions).
    *
    * Count-min is exactly mergeable (cell-wise addition), so each
    * micro-batch folds its exact batch cells into the stored grid
    * with a full-outer sum on (r, bucket) — state is ≤ d·w rows
    * FOREVER regardless of stream cardinality, and the merged grid
    * equals the single-shot sketch of the whole history (spec-pinned;
    * the mergeable-HLL discipline). Batch-id replays no-op under the
    * shared writer-identity rule.
    */
  def countMinSink(stream: DataFrame, checkpoint: String, target: String,
                   itemCol: String, d: Int = 4, w: Int = 256): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(countMinBatchToParquet(_, target, itemCol, d, w, _))

  private[graft] def countMinBatchToParquet(batch: DataFrame, target: String,
                                            itemCol: String, d: Int, w: Int,
                                            batchId: Long,
                                            writerId: Option[String] = None): Unit = {
    require(d >= 1 && w >= 1, s"count-min needs positive dims: $d x $w")
    val cells = batch.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
      .select(col("item"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("bucket",
        pmod(graft.operators.Sampling.md5Long32(Seq(col("r"), col("item"))),
          lit(w)))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cell_n"))
    upsertParquet(batch.sparkSession, target, cells, { existing =>
      existing.select(col("r"), col("bucket"), col("cell_n").as("__c_old"))
        .join(cells.select(col("r"), col("bucket"), col("cell_n").as("__c_new"))
          .hint("shuffle_hash"),
          Seq("r", "bucket"), "full_outer")
        .select(col("r"), col("bucket"),
          (coalesce(col("__c_old"), lit(0L)) + coalesce(col("__c_new"), lit(0L)))
            .as("cell_n"))
    }, batchId, writerId)
  }

  /** Streaming LATENESS AUDIT sink — the telemetry a watermark choice
    * is justified by: per micro-batch, one appended audit row with
    * the batch's row count, how many rows arrived at-or-ahead of the
    * stored event-time high water, how many landed 0-1 min / 1-10
    * min / >10 min behind it, and the high water before/after. A
    * watermark of W minutes silently DROPS the rows this panel counts
    * beyond W — so the panel is the evidence for (or against) W,
    * maintained next to the stream instead of guessed.
    *
    * State is the audit table itself (high water = max of the stored
    * `high_water_after`); each batch appends exactly one row through
    * the replay-guarded swap, so re-delivered batches no-op and the
    * audit never double-counts.
    */
  def latenessSink(stream: DataFrame, checkpoint: String, target: String,
                   tsCol: String): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(latenessBatchToParquet(_, target, tsCol, _))

  private[graft] def latenessBatchToParquet(batch: DataFrame, target: String,
                                            tsCol: String,
                                            batchId: Long,
                                            writerId: Option[String] = None): Unit = {
    val ts = col(tsCol)
    def auditRow(highWaterBefore: Column): DataFrame =
      batch.filter(ts.isNotNull)
        .agg(
          count(lit(1)).as("n_rows"),
          max(ts).as("__batch_max"),
          sum(when(highWaterBefore.isNull || ts >= highWaterBefore, 1L)
            .otherwise(0L)).as("n_on_time"),
          sum(when(highWaterBefore.isNotNull && ts < highWaterBefore &&
            ts >= highWaterBefore - expr("interval 1 minute"), 1L)
            .otherwise(0L)).as("n_late_1m"),
          sum(when(highWaterBefore.isNotNull &&
            ts < highWaterBefore - expr("interval 1 minute") &&
            ts >= highWaterBefore - expr("interval 10 minutes"), 1L)
            .otherwise(0L)).as("n_late_10m"),
          sum(when(highWaterBefore.isNotNull &&
            ts < highWaterBefore - expr("interval 10 minutes"), 1L)
            .otherwise(0L)).as("n_late_inf"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("high_water_before", highWaterBefore)
        .withColumn("high_water_after",
          greatest(coalesce(highWaterBefore, col("__batch_max")),
            col("__batch_max")))
        .drop("__batch_max")
    upsertParquet(batch.sparkSession, target, auditRow(lit(null).cast("timestamp")), { existing =>
      val hw = existing.agg(max(col("high_water_after")).as("hw"))
        .collect().head.getTimestamp(0)
      existing.unionByName(auditRow(lit(hw)))
    }, batchId, writerId)
  }

  /** Streaming ALWAYS-VALID EXPERIMENT sink — the live twin of the
    * batch mSPRT readout ([[graft.operators.AnalyticsPack
    * .msprtSequential]], sharing its exact ln Λ expression): per
    * micro-batch, the events fold into a per-user STATE table
    * (user_id, arm, converted-ever — state is ≤ one row per enrolled
    * user forever, never per-event), the state collapses to the
    * cumulative two-proportion panel, and ONE readout row appends
    * with ln Λ, the carried running maximum, and the always-valid
    * `ln p = −max(0, running max)` — so the dashboard can be watched
    * continuously and a rejection at any batch is statistically
    * valid. Both tables are batch-id replay-guarded under the house
    * writer-identity rule; a crash between the state swap and the
    * readout append replays into a state table that already absorbed
    * the batch, which the cumulative panel makes idempotent.
    */
  def msprtSink(stream: DataFrame, checkpoint: String, stateTarget: String,
                readoutTarget: String, variantCol: String, a: String,
                convPred: Column, tau2: Double = 0.01): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(
      msprtBatchToParquet(_, stateTarget, readoutTarget, variantCol, a, convPred, tau2, _))

  private[graft] def msprtBatchToParquet(batch: DataFrame, stateTarget: String,
                                         readoutTarget: String,
                                         variantCol: String, a: String,
                                         convPred: Column, tau2: Double,
                                         batchId: Long,
                                         writerId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val userPartial = batch
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col(variantCol)).as("arm"),
        max(when(convPred, 1L).otherwise(0L)).as("converted"))
    upsertParquet(batch.sparkSession, stateTarget, userPartial, { existing =>
      val e = existing.select(col("user_id"), col("arm").as("__arm_old"),
        col("converted").as("__cv_old"))
      e.join(userPartial.select(col("user_id"), col("arm").as("__arm_new"),
          col("converted").as("__cv_new")).hint("shuffle_hash"),
          Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("__arm_old"), col("__arm_new")).as("arm"),
          greatest(coalesce(col("__cv_old"), lit(0L)),
            coalesce(col("__cv_new"), lit(0L))).as("converted"))
    }, batchId, writerId)
    val isA = col("arm") === a
    val panel = spark.read.parquet(stateTarget)
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(!isA, col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("ln_lambda", graft.operators.AnalyticsPack.msprtLnLambda(
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"), tau2))
      .withColumn("batch_id", lit(batchId))
    def withP(row: DataFrame, priorMax: Column): DataFrame = {
      val runMax =
        when(col("ln_lambda").isNull, priorMax)
          .otherwise(when(priorMax.isNull, col("ln_lambda"))
            .otherwise(greatest(priorMax, col("ln_lambda"))))
      row.withColumn("run_max", runMax)
        .withColumn("ln_p_always_valid",
          when(col("run_max").isNull, lit(null))
            .otherwise(-greatest(col("run_max"), lit(0.0))))
    }
    upsertParquet(batch.sparkSession, readoutTarget, withP(panel, lit(null).cast("double")),
      { existing =>
        val prior = existing.agg(max(col("run_max"))).collect().head
        val pm = if (prior.isNullAt(0)) lit(null).cast("double")
                 else lit(prior.getDouble(0))
        existing.unionByName(withP(panel, pm))
      }, batchId, writerId)
  }

  /** Streaming ingestion into a [[graft.sources.VersionedTable]]: each
    * micro-batch commits ONE append segment through the manifest log,
    * so readers get snapshot isolation over a live stream — a query
    * started mid-batch sees the previous version, never a half-written
    * segment — and `asOf` time travel across batch history.
    *
    * Exactly-once VISIBILITY under foreachBatch's at-least-once
    * delivery: the commit carries a (query id, batch id) txn marker in
    * the manifest and a replayed batch id is skipped before any write
    * (a marker from a DIFFERENT query is foreign and never suppresses
    * a batch — the same identity rule as the merge/SCD2 sinks). A
    * crash after the segment write but before the manifest publish
    * leaves only an invisible orphan, reclaimed by vacuum; the replay
    * then commits a fresh segment. `statsCol` forwards to the commit's
    * segment-stats sidecar so range reads prune whole batches.
    */
  def versionedSink(stream: DataFrame, checkpoint: String, dir: String,
                    statsCol: Option[String] = None,
                    writerId: Option[String] = None): DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(versionedBatchCommit(_, dir, _, statsCol, writerId))

  /** [[versionedSink]]'s batch twin: one append commit carrying the
    * (writer, batch id) txn marker, skipped before any write when
    * [[newBatchWriter]] finds the batch already applied.
    */
  private[graft] def versionedBatchCommit(batch: DataFrame, dir: String,
                                          batchId: Long,
                                          statsCol: Option[String] = None,
                                          writerId: Option[String] = None): Unit = {
    import graft.sources.VersionedTable
    val spark = batch.sparkSession
    newBatchWriter(spark, writerId, batchId)(VersionedTable.lastTxnVersion(spark, dir, _))
      .foreach(w => VersionedTable.commit(batch, dir, statsCol = statsCol, txn = Some((w, batchId))))
  }

  /** Streaming SCD2 maintenance: each micro-batch of observations is
    * merged into the dimension with expire-and-insert semantics
    * (graft.operators.Scd2.applyChanges — affected keys only), so the
    * dim at any point equals a full-history rebuild over everything
    * streamed so far.
    *
    * applyChanges' no-same-day-re-observation precondition is ENFORCED
    * COMPLETELY via a per-key observed-day watermark (`_graft_obs`, a
    * hidden parquet sidecar inside the target that travels with the
    * atomic swap): every applied batch folds its per-key max observed
    * day into the watermark, and a later batch observing a day at or
    * before it fails loudly. Comparing against version `valid_from`s
    * alone would miss days whose observation produced NO version
    * change — a later intraday-earlier replay of such a day would then
    * silently diverge the dim from the full-history rebuild.
    */
  def scd2Sink(stream: DataFrame, checkpoint: String, target: String,
               bk: String, ts: String, tieBreak: Seq[String], attrs: Seq[String]):
      DataStreamWriter[Row] =
    batchSink(stream, checkpoint)(scd2BatchToParquet(_, target, bk, ts, tieBreak, attrs, _))

  /** SCD2's observed-day watermark, a hidden sidecar inside the
    * target: the leading '_' keeps it out of a plain
    * `spark.read.parquet(target)` (Hadoop's hidden-path filter), yet it
    * travels with the swap — data, watermark and commit marker replace
    * atomically together.
    */
  private[graft] val ObsDir = "_graft_obs"

  private[graft] def scd2BatchToParquet(batch: DataFrame, target: String,
                                            bk: String, ts: String,
                                            tieBreak: Seq[String], attrs: Seq[String],
                                            batchId: Long,
                                            writerId: Option[String] = None): Unit = {
    import graft.operators.Scd2
    val spark = batch.sparkSession
    val obsPath = s"$target/$ObsDir"
    // lazy: probed only inside the upsert, once the swap protocol has
    // healed any half-finished swap — a target renamed aside by a crash
    // would otherwise read as "no watermark" and this batch would
    // silently drop the prior one
    lazy val obsExists = {
      val p = new org.apache.hadoop.fs.Path(obsPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val batchDays = batch.select(col(bk), to_date(col(ts)).as("__graft_day"))
    upsertParquet(spark, target, Scd2.fromHistory(batch, bk, ts, tieBreak, attrs),
      { existing =>
        // Re-observation of an already-applied day would replay against
        // the reconstituted MIDNIGHT observation and win regardless of
        // the original intraday winner — a silently wrong dimension.
        // The watermark makes this check complete; a target written
        // before the watermark existed falls back to the version-days
        // check (weaker: blind to no-change days).
        val replayed =
          if (obsExists)
            batchDays.join(spark.read.parquet(obsPath), bk)
              .filter(col("__graft_day") <= col("max_obs_day")).count()
          else
            batchDays.join(existing.select(col(bk), col("valid_from")), bk)
              .filter(col("__graft_day") <= col("valid_from")).count()
        if (replayed > 0)
          throw new IllegalStateException(
            s"scd2Sink: $replayed batch observation(s) re-observe a day at or " +
              s"before the key's observed-day watermark — micro-batches must " +
              "cover strictly later days per key (see Scd2.applyChanges)")
        Scd2.applyChanges(existing, batch, bk, ts, tieBreak, attrs)
      },
      batchId,
      writerId,
      afterWrite = { tmp =>
        val batchObs = batchDays.groupBy(col(bk))
          .agg(max(col("__graft_day")).as("max_obs_day"))
        val obs =
          if (obsExists)
            batchObs.unionByName(spark.read.parquet(obsPath))
              .groupBy(col(bk)).agg(max(col("max_obs_day")).as("max_obs_day"))
          else batchObs
        obs.write.mode("overwrite").parquet(s"$tmp/$ObsDir")
      })
  }

  /** The one foreachBatch driver behind every `xxxSink`: checkpointed,
    * append-mode, each micro-batch handed to its batch twin together
    * with the batch id the replay rule ([[newBatchWriter]]) keys on.
    */
  private def batchSink(stream: DataFrame, checkpoint: String)
                       (twin: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch((batch: Dataset[Row], batchId: Long) => twin(batch.toDF(), batchId))

  /** The one replay rule of every replay-guarded sink — the parquet
    * upserts and [[versionedBatchCommit]] alike. Resolves the writer
    * identity — the explicit `writerId`, else the running query's id
    * (the `sql.streaming.queryId` local property StreamExecution sets
    * around foreachBatch, which persists across restarts in the
    * checkpoint) — and returns it when `batchId` is new for that
    * writer, None when `lastBatch(writer)`, the last batch the target
    * records for THAT writer, already covers it.
    *
    * Keyed on (writer, batch id), not batch id alone (the Delta
    * txnAppId/txnVersion pattern): batch ids restart at 0 whenever a
    * checkpoint is deleted or another query adopts the target, so a
    * marker from any other writer never counts as applied — a bare
    * `batchId <= marker` check would silently SKIP genuinely new
    * batches. NO silent fallback identity either: two writers sharing
    * one default would let one's recorded batch id permanently
    * suppress the other's batches, so an absent identity (internal key
    * renamed by an upgrade, or a direct caller that passed no
    * writerId) fails loudly.
    */
  private def newBatchWriter(spark: SparkSession, writerId: Option[String], batchId: Long)
                            (lastBatch: String => Option[Long]): Option[String] = {
    val writer = writerId
      .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
      .getOrElse(throw new IllegalStateException(
        "no writer identity — sql.streaming.queryId is unset and no explicit " +
          "writerId was passed; refusing to default to a shared identity (it " +
          "would cross-suppress batches of distinct writers)"))
    if (lastBatch(writer).exists(batchId <= _)) None else Some(writer)
  }

  /** Replay-guarded replacement of a parquet target that the new frame
    * may itself read from, through the lake's one crash-safe directory
    * swap ([[graft.sources.MedallionSink.replaceDir]]): `merge` maps the
    * current target to its successor, `init` is used when the target
    * does not exist yet, and `afterWrite` places extra sidecar state
    * into the tmp dir so it replaces atomically with the data.
    *
    * IDEMPOTENT under foreachBatch's at-least-once contract: the
    * (writer, batch id) commit marker is swapped in WITH the data, so a
    * crash between the swap and the stream checkpoint's own commit —
    * which re-delivers the same batch id on restart — is detected by
    * [[newBatchWriter]] and skipped as a no-op. Without this, a
    * non-idempotent merge (scd2's replay guard) would see its own
    * already-applied rows and poison the stream.
    *
    * `init` is BY-NAME so a replayed batch id short-circuits at the
    * marker check without constructing the batch plan — plan
    * construction is not free for every sink (the dedup-decision probe
    * reads the index manifest eagerly). The session comes from the
    * caller's batch DataFrame, NOT SparkSession.active: in a
    * multi-session app (or a direct batch-twin call from a thread where
    * a different session is active) the thread-active session would
    * read/write through the wrong catalog and hadoop conf — and throws
    * when no session is set on the thread at all.
    */
  private def upsertParquet(spark: SparkSession, target: String, init: => DataFrame,
                            merge: DataFrame => DataFrame, batchId: Long,
                            writerId: Option[String],
                            afterWrite: String => Unit = _ => ()): Unit = {
    import graft.sources.MedallionSink
    newBatchWriter(spark, writerId, batchId)(MedallionSink.lastBatch(spark, target, _))
      .foreach { w =>
        MedallionSink.replaceDir(spark, target, Some((w, batchId))) { tmp =>
          val tPath = new org.apache.hadoop.fs.Path(target)
          val exists = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tPath)
          (if (exists) merge(spark.read.parquet(target)) else init)
            .write.mode("overwrite").parquet(tmp)
          afterWrite(tmp)
        }
      }
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_id: Long, et: String)

  final case class FunnelState(viewMs: Long, clickMs: Long, purchaseMs: Long)

  final case class FunnelStage(user_id: Long, stage: Int)

  /** Streaming ordered-funnel stage tracking (the incremental twin of
    * the batch `AnalyticsPack.funnelSteps` flags): tiny per-user state
    * — the first VIEW time, the first CLICK at-or-after it, the first
    * PURCHASE at-or-after that — emitted as the user's current stage
    * (0..3) whenever it may have advanced. `mapGroupsWithState` in
    * UPDATE mode: one state row per user, one output row per touched
    * user per micro-batch, never an append history.
    *
    * Events are ordered within each batch (ts, event_id) like the
    * sessionizer; ACROSS batches the tracker assumes event-time-ordered
    * delivery per key (the natural feed shape) — a cross-batch
    * regression (a VIEW arriving after a CLICK it would have enabled)
    * is not retroactively applied, exactly like any forward-only
    * state machine. The spec pins stream == batch flags for in-order
    * delivery.
    */
  def funnelStages(events: Dataset[FunnelEvent]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    val Unset = Long.MaxValue

    def update(uid: Long, it: Iterator[FunnelEvent],
               state: GroupState[FunnelState]): FunnelStage = {
      var s = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
      it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        e.et.trim.toUpperCase match {
          case "VIEW" if t < s.viewMs => s = s.copy(viewMs = t)
          case "CLICK" if s.viewMs <= t && t < s.clickMs => s = s.copy(clickMs = t)
          case "PURCHASE" if s.clickMs <= t && t < s.purchaseMs => s = s.copy(purchaseMs = t)
          case _ =>
        }
      }
      state.update(s)
      val stage =
        if (s.purchaseMs != Unset) 3
        else if (s.clickMs != Unset) 2
        else if (s.viewMs != Unset) 1
        else 0
      FunnelStage(uid, stage)
    }

    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
  }

  final case class SessEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Double)

  final case class SessionState(
      sessionSeq: Long, startMs: Long, endMs: Long, n: Long, sumCents: Long)

  final case class Session(
      user_id: Long, session_seq: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, value_sum: Double)

  /** Gap-based sessionization with flatMapGroupsWithState: one
    * in-flight session per user key; a session is emitted as soon as
    * it is closed by a later event (gap exceeded) or by the event-time
    * timeout once the watermark passes its end + gap.
    */
  def sessionize(events: Dataset[SessEvent], gapSec: Long,
                 watermark: String = "30 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._

    // Accumulate exact cents (each value rounded to 2dp HALF_UP like a
    // DECIMAL(18,2) cast) so the sum is order-independent and equals
    // the batch twin's decimal aggregation bit for bit. NaN/Infinity
    // and out-of-DECIMAL(18,2)-range values contribute 0 — the batch
    // cast yields NULL there and the sum skips them; throwing would
    // kill the whole streaming query on one bad event.
    def cents(v: Double): Long =
      if (v.isNaN || v.isInfinite || math.abs(v) >= 1e16) 0L
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.movePointRight(2).longValueExact()

    def close(userId: Long, s: SessionState): Session =
      Session(userId, s.sessionSeq, new Timestamp(s.startMs), new Timestamp(s.endMs),
        s.n, s.sumCents / 100.0)

    def update(userId: Long, it: Iterator[SessEvent],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(userId, _)).iterator
        state.remove()
        return out
      }
      var cur = state.getOption
      val closed = Seq.newBuilder[Session]
      it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.endMs <= gapSec * 1000 =>
            cur = Some(s.copy(endMs = math.max(s.endMs, t), n = s.n + 1,
              sumCents = s.sumCents + cents(e.value)))
          case Some(s) =>
            closed += close(userId, s)
            cur = Some(SessionState(s.sessionSeq + 1, t, t, 1, cents(e.value)))
          case None =>
            cur = Some(SessionState(1, t, t, 1, cents(e.value)))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.endMs + gapSec * 1000)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One tagged input row of [[asofEnrichJoin]]: `side` is "L" (a
    * fact to enrich) or "R" (a state/dim update carrying `attr`).
    */
  final case class AsofEvent(key: Long, ts: Timestamp, event_id: Long,
                             side: String, attr: Double)

  /** Keyed state: right history and pending lefts, both as
    * (tsMs, event_id, attr) triples (attr unused on lefts).
    */
  final case class AsofState(rights: List[(Long, Long, Double)],
                             lefts: List[(Long, Long)])

  final case class AsofJoined(key: Long, ts: Timestamp, event_id: Long,
                              state_ts: Option[Timestamp], attr: Option[Double])

  /** Stream-stream AS-OF enrichment join — the streaming twin of the
    * B5 batch as-of join ([[graft.operators.AsOfJoin]]): every LEFT
    * fact resolves to the latest RIGHT state row with
    * `right.ts <= left.ts` (same-instant right applies — the batch
    * dim-first rule; duplicate same-(key, ts) rights resolve to the
    * max event_id, a total order). This is the "enrich facts with a
    * slowly-changing dimension IN FLIGHT" operator a streaming
    * medallion needs where E20's interval join expresses windows, not
    * validity chains.
    *
    * Correctness under out-of-order arrival: a left is NOT enriched
    * on sight — it buffers until the watermark passes its timestamp,
    * at which point every right at-or-before it has either arrived or
    * is contractually dropped, so the emitted row equals the batch
    * as-of over everything that ever arrives inside the watermark
    * (spec-pinned set-equality, including a right that arrives AFTER
    * the left it enriches). Emission is append-only: a right arriving
    * later than the watermark can never retro-change an emitted row.
    *
    * Bounded state (the 100-TB contract): per key, pending lefts
    * drain at the watermark (at most `delay × arrival-rate` rows),
    * and the right history prunes to the single latest row
    * at-or-before the watermark plus any rights still ahead of it —
    * the validity chain never accumulates. Event-time timeouts flush
    * keys whose lefts stop arriving.
    *
    * Rights-only keys (a dimension key that never receives facts)
    * INTENTIONALLY retain their single pruned current-version row
    * with no timeout: a batch as-of joins against ALL dim history, so
    * a fact arriving arbitrarily late must still find the current
    * version — dropping it on a TTL would silently un-enrich late
    * facts. The retained state is exactly one row per dimension key
    * (bounded by dim cardinality, not by time), which is the same
    * footprint any streaming dim table pays; `state.remove()` fires
    * only when a timeout drains a key to empty on both sides.
    */
  def asofEnrichJoin(tagged: Dataset[AsofEvent], watermark: String = "30 seconds")
      : Dataset[AsofJoined] = {
    import tagged.sparkSession.implicits._

    def enrich(key: Long, tsMs: Long, eventId: Long,
               rights: List[(Long, Long, Double)]): AsofJoined = {
      // rights sorted ascending (ts, event_id); latest at-or-before wins
      val cover = rights.takeWhile(_._1 <= tsMs).lastOption
      AsofJoined(key, new Timestamp(tsMs), eventId,
        cover.map(c => new Timestamp(c._1)), cover.map(_._3))
    }

    def flush(key: Long, s: AsofState, wm: Long)
        : (List[AsofJoined], AsofState) = {
      // flush at ts <= wm is EXACTLY aligned with Spark's late-row
      // filter: for event-time-timeout flatMapGroupsWithState, Spark
      // drops any input with ts <= the operative watermark (ties
      // included — spec-pinned empirically: a right stamped exactly
      // AT the watermark and sent one microbatch later never reaches
      // update()), so once wm >= left.ts no right at-or-before that
      // left can still arrive and the flush cannot miss anything a
      // batch as-of over the admitted inputs would apply. (A strict
      // `< wm` flush would also be correct — it only holds such
      // lefts one extra watermark advance for no additional rights.)
      val (due, pending) = s.lefts.partition(_._1 <= wm)
      val out = due.sortBy(identity)
        .map { case (t, id) => enrich(key, t, id, s.rights) }
      // prune rights: keep the latest at-or-before the watermark (the
      // "current" version every future left may still need — pending
      // lefts are strictly newer than the watermark by construction)
      // plus all rights ahead of it
      val (before, after) = s.rights.partition(_._1 <= wm)
      (out, AsofState(before.takeRight(1) ::: after, pending))
    }

    def update(key: Long, it: Iterator[AsofEvent],
               state: GroupState[AsofState]): Iterator[AsofJoined] = {
      val wm = state.getCurrentWatermarkMs()
      if (state.hasTimedOut) {
        val (out, next) = flush(key, state.get, wm)
        if (next.lefts.isEmpty && next.rights.isEmpty) state.remove()
        else {
          state.update(next)
          next.lefts.map(_._1).minOption
            .foreach(t => state.setTimeoutTimestamp(math.max(t, wm + 1)))
        }
        return out.iterator
      }
      val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
      val batch = it.toSeq
      val rights = (prev.rights ++ batch.filter(_.side == "R")
          .map(e => (e.ts.getTime, e.event_id, e.attr)))
        .distinct.sortBy(r => (r._1, r._2))
        // duplicate same-(ts) rights: max event_id wins — drop shadowed
        .foldRight(List.empty[(Long, Long, Double)]) { (r, acc) =>
          if (acc.headOption.exists(_._1 == r._1)) acc else r :: acc
        }
      val lefts = prev.lefts ++ batch.filter(_.side == "L")
        .map(e => (e.ts.getTime, e.event_id))
      val (out, next) = flush(key, AsofState(rights, lefts), wm)
      state.update(next)
      next.lefts.map(_._1).minOption
        .foreach(t => state.setTimeoutTimestamp(math.max(t, wm + 1)))
      out.iterator
    }

    tagged
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
