package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Sessionize
import graft.streaming.StreamOps
import graft.streaming.StreamOps.SessEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val events = Seq(
    (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
    (2L, ts("2024-01-01 10:10:00"), "click", 2.0),
    (3L, ts("2024-01-01 10:40:00"), "view", 3.0),   // next 30m window
    (4L, ts("2024-01-01 12:00:00"), "click", 4.0))  // later window

  test("streaming 30m aggregation matches the batch twin") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val df = in.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.events30m(df, watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("s30m").outputMode("append").start()
    in.addData(events)
    q.processAllAvailable()
    // append mode only emits windows the watermark has passed; push it forward
    in.addData(Seq((9L, ts("2024-01-01 23:00:00"), "click", 0.5)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("s30m")
      .select("window_start", "event_type_norm", "n_events", "value_sum")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = events.toDF("event_id", "ts", "event_type", "value")
      .groupBy(graft.functions.Temporal.windowStart($"ts", 1800).as("window_start"),
        upper(trim($"event_type")).as("event_type_norm"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("value_sum"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.subsetOf(streamed))
  }

  test("streaming drift histogram: fixed buckets, clamped edges, matches a batch recount") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val df = in.toDF.toDF("event_id", "ts", "event_type", "value")
    // bounds [0, 10), k=5 → width 2; -3 clamps to bucket 0, 99 to bucket 4
    val q = StreamOps.valueHistogram(df, lo = 0.0, hi = 10.0, k = 5,
        watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("sdrift").outputMode("append").start()
    val data = Seq(
      (1L, ts("2024-01-01 10:00:00"), "x", 1.0),   // bucket 0
      (2L, ts("2024-01-01 10:05:00"), "x", 1.9),   // bucket 0
      (3L, ts("2024-01-01 10:10:00"), "x", 5.0),   // bucket 2
      (4L, ts("2024-01-01 10:15:00"), "x", -3.0),  // clamps to 0
      (5L, ts("2024-01-01 10:20:00"), "x", 99.0),  // clamps to 4
      (6L, ts("2024-01-01 10:40:00"), "x", 9.0))   // next window, bucket 4
    in.addData(data)
    q.processAllAvailable()
    in.addData(Seq((9L, ts("2024-01-01 23:00:00"), "x", 0.5)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sdrift")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2))).toSet
    val w1 = ts("2024-01-01 10:00:00")
    val w2 = ts("2024-01-01 10:30:00")
    assert(Set((w1, 0, 3L), (w1, 2, 1L), (w1, 4, 1L), (w2, 4, 1L)).subsetOf(streamed))
  }

  test("streaming sliding-window aggregation matches the batch twin (2 windows per event)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val df = in.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.eventsSliding(df, watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("sslide").outputMode("append").start()
    in.addData(events)
    q.processAllAvailable()
    in.addData(Seq((9L, ts("2024-01-01 23:00:00"), "click", 0.5)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sslide")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // batch twin through the SAME built-in window() expression
    val batch = events.toDF("event_id", "ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"),
        upper(trim($"event_type")).as("event_type_norm"))
      .agg(count(lit(1)).as("n_events"),
        coalesce(round(sum($"value".cast("decimal(18,2)")), 2), lit(0))
          .cast("double").as("value_sum"))
      .select($"w".getField("start"), $"event_type_norm", $"n_events", $"value_sum")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.subsetOf(streamed))
    // every event contributes to exactly 2 overlapping windows: the
    // 10:00 + 10:10 clicks cover starts 09:30 and 10:00
    val clickStarts = streamed.filter(_._2 == "CLICK").map(_._1.toString)
    assert(clickStarts.contains("2024-01-01 09:30:00.0"))
    assert(clickStarts.contains("2024-01-01 10:00:00.0"))
  }

  test("streaming sessionization emits closed sessions matching the batch twin") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessEvent]
    val q = StreamOps.sessionize(in.toDS(), gapSec = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // user 7: two sessions split by a > 30 min gap, all in one batch
    in.addData(
      SessEvent(7L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      SessEvent(7L, ts("2024-01-01 10:20:00"), 2L, 2.0),
      SessEvent(7L, ts("2024-01-01 12:00:00"), 3L, 4.0))
    q.processAllAvailable()
    // advance the watermark far enough to time out the open session
    in.addData(SessEvent(8L, ts("2024-01-02 00:00:00"), 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess").as[StreamOps.Session].collect()
      .filter(_.user_id == 7L)
      .map(s => (s.session_seq, s.session_start, s.session_end, s.n_events, s.value_sum)).toSet
    val batch = Sessionize.byGap(
        Seq((7L, ts("2024-01-01 10:00:00"), 1L, 1.0),
          (7L, ts("2024-01-01 10:20:00"), 2L, 2.0),
          (7L, ts("2024-01-01 12:00:00"), 3L, 4.0))
          .toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", gapSec = 1800)
      .collect()
      .map(r => (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4), r.getDouble(5)))
      .toSet
    assert(streamed == batch)
    assert(streamed.size == 2)
  }

  test("sessionize twins agree on sub-second timestamps and cent sums") {
    // The twin-divergence scenario from the round-2 advice: events
    // whose gap straddles the boundary only at millisecond precision,
    // and values whose double sum drifts from the decimal sum.
    def subTs(ms: Long): Timestamp = {
      val t = new Timestamp(ts("2024-01-01 10:00:00").getTime + ms); t
    }
    val gap = 10L // seconds
    val rows = Seq(
      (7L, subTs(0L), 1L, 0.105),       // cents(0.105) -> 0.11
      (7L, subTs(1000L), 4L, Double.NaN), // NaN: skipped by BOTH twins' sums
      (7L, subTs(9999L), 2L, 0.1 + 0.2),// 9.999s gap: same session at ms precision
      (7L, subTs(20000L), 3L, 0.3))     // 10.001s gap from prev -> NEW session
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessEvent]
    val q = StreamOps.sessionize(in.toDS(), gapSec = gap, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_ms").outputMode("append").start()
    in.addData(rows.map(r => SessEvent(r._1, r._2, r._3, r._4)): _*)
    in.addData(SessEvent(8L, ts("2024-01-02 00:00:00"), 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_ms").as[StreamOps.Session].collect()
      .filter(_.user_id == 7L)
      .map(s => (s.session_seq, s.session_start, s.session_end, s.n_events, s.value_sum)).toSet
    val batch = Sessionize.byGap(rows.toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", gapSec = gap)
      .collect()
      .map(r => (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4), r.getDouble(5)))
      .toSet
    assert(streamed == batch)
    assert(streamed.size == 2)
    // second-truncated gaps would have merged all three into one session
    val sums = streamed.toSeq.sortBy(_._1).map(_._5)
    assert(sums == Seq(0.41, 0.3)) // 0.11 + 0.30 exact cents, then 0.30
  }

  test("streaming dedup drops in-watermark re-deliveries with bounded state") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF.toDF("event_id", "ts", "payload")
    val q = StreamOps.dedupStream(df, Seq("event_id"), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("dedup_s").outputMode("append").start()
    in.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 10:00:30"), "a-dup"),
      (2L, ts("2024-01-01 10:01:00"), "b")))
    q.processAllAvailable()
    in.addData(Seq((1L, ts("2024-01-01 10:02:00"), "a-dup2"),
      (3L, ts("2024-01-01 10:03:00"), "c")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_s").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("built-in session_window streams the same sessions as the batch twin") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val df = in.toDF.toDF("user_id", "ts", "event_id", "value")
    val rows = Seq(
      (7L, ts("2024-01-01 10:00:00"), 1L, 0.10),
      (7L, ts("2024-01-01 10:00:05"), 2L, 0.20),  // same session (gap 10s)
      (7L, ts("2024-01-01 10:00:30"), 3L, 0.30))  // 25s > 10s -> new session
    val q = df.withWatermark("ts", "0 seconds")
      .groupBy($"user_id", session_window($"ts", "10 seconds"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("value_sum"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n_events", $"value_sum")
      .writeStream.format("memory").queryName("sw_s").outputMode("append").start()
    in.addData(rows)
    q.processAllAvailable()
    in.addData(Seq((8L, ts("2024-01-02 00:00:00"), 9L, 0.0))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_s").filter($"user_id" === 7L)
      .collect().map(r => (r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Sessionize.byGapBuiltin(
        rows.toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", gapSec = 10)
      .filter($"user_id" === 7L)
      .collect().map(r => (r.getTimestamp(2), r.getLong(4), r.getDouble(5))).toSet
    assert(streamed == batch)
    assert(streamed.map(_._2) == Set(2L, 1L))
  }

  test("streaming first-wins dedup equals the firstByGrain batch twin on ordered feeds") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp, Long)]
    val df = in.toDF.toDF("user_id", "event_type", "ts", "event_id")
    val q = StreamOps.dedupStream(df, Seq("user_id", "event_type"),
        watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("dedup_grain_s").outputMode("append").start()
    // event-time-ordered feed: first arrival per (user, type) = earliest event
    val rows = Seq(
      (1L, "A", ts("2024-01-01 09:00:00"), 11L),
      (1L, "A", ts("2024-01-01 10:00:00"), 10L),
      (1L, "B", ts("2024-01-01 12:00:00"), 12L),
      (2L, "A", ts("2024-01-01 08:00:00"), 13L),
      (2L, "A", ts("2024-01-01 08:30:00"), 14L))
    in.addData(rows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_grain_s").select("event_id")
      .as[Long].collect().sorted.toSeq
    val batch = graft.operators.Dedup.firstByGrain(
        rows.toDF("user_id", "event_type", "ts", "event_id"),
        Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch && batch == Seq(11L, 12L, 13L))
  }

  test("stream-static broadcast enrichment resolves dimension attributes") {
    implicit val sql = spark.sqlContext
    val dim = Seq(("click", 1), ("view", 2)).toDF("name", "sk")
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF.toDF("event_id", "ts", "event_type")
    val q = StreamOps.enrichWithDim(df, dim, "event_type", "name")
      .select("event_id", "sk")
      .writeStream.format("memory").queryName("enrich_s").outputMode("append").start()
    in.addData(Seq((1L, ts("2024-01-01 10:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:10"), "unknown")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_s").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got == Map(1L -> Some(1), 2L -> None))
  }

  test("streaming medallion pipeline: dedup -> dim enrichment -> 30m window = batch result") {
    implicit val sql = spark.sqlContext
    val dim = Seq(("CLICK", 1), ("VIEW", 2)).toDF("name", "sk")
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = in.toDF.toDF("event_id", "ts", "event_type", "value")
    // one watermark definition governs the whole chain (Spark forbids
    // redefining it between stateful operators)
    val piped = StreamOps.events30m(
      StreamOps.enrichWithDim(
        StreamOps.dedupStream(stream, Seq("event_id"), watermark = Some("0 seconds")),
        dim.withColumnRenamed("name", "etype_name"), "event_type", "etype_name")
        .drop("etype_name", "sk"),
      watermark = None)
    val q = piped.writeStream.format("memory").queryName("pipe30m")
      .outputMode("append").start()
    in.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (1L, ts("2024-01-01 10:00:05"), "click", 1.0),   // duplicate delivery
      (2L, ts("2024-01-01 10:10:00"), "view", 2.0),
      (3L, ts("2024-01-01 10:40:00"), "click", 4.0)))
    q.processAllAvailable()
    in.addData(Seq((9L, ts("2024-01-02 00:00:00"), "click", 0.0))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pipe30m")
      .filter($"window_start" < ts("2024-01-01 11:00:00"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      (ts("2024-01-01 10:00:00"), "CLICK", 1L, 1.0),
      (ts("2024-01-01 10:00:00"), "VIEW", 1L, 2.0),
      (ts("2024-01-01 10:30:00"), "CLICK", 1L, 4.0)))
  }

  test("stream-stream attribution join matches the batch range join") {
    implicit val sql = spark.sqlContext
    val clickRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),   // inside the 10-min window
      (1L, ts("2024-01-01 09:58:00"), 5L),   // exactly purchase_ts - window (inclusive)
      (1L, ts("2024-01-01 09:45:00"), 2L),   // too early
      (1L, ts("2024-01-01 10:08:00"), 6L),   // exactly purchase_ts (inclusive)
      (2L, ts("2024-01-01 10:05:00"), 3L))   // other user
    val purchaseRows = Seq((1L, ts("2024-01-01 10:08:00"), 100L, 9.99))
    val inC = MemoryStream[(Long, Timestamp, Long)]
    val inP = MemoryStream[(Long, Timestamp, Long, Double)]
    val clicks = inC.toDF.toDF("user_id", "click_ts", "click_id")
    val purchases = inP.toDF.toDF("user_id", "purchase_ts", "purchase_id", "purchase_value")
    val q = StreamOps.attributionJoin(clicks, purchases,
        "user_id", "click_ts", "purchase_ts", windowSec = 600, watermark = "0 seconds")
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("attrib_s").outputMode("append").start()
    inC.addData(clickRows)
    inP.addData(purchaseRows)
    q.processAllAvailable()
    // advance both watermarks so the joined rows are emitted
    inC.addData(Seq((9L, ts("2024-01-02 00:00:00"), 99L)))
    inP.addData(Seq((9L, ts("2024-01-02 00:00:00"), 999L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attrib_s")
      .filter($"purchase_id" === 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the REAL pin: compute the batch twin's range join over the same
    // inputs — a unilateral change to either bound (inclusive ->
    // exclusive) in stream or batch breaks this equality
    val batch = purchaseRows.toDF("user_id", "purchase_ts", "purchase_id", "purchase_value")
      .as("p")
      .join(clickRows.toDF("user_id", "click_ts", "click_id").as("c"),
        $"p.user_id" === $"c.user_id" &&
          $"c.click_ts" >= $"p.purchase_ts" - expr("INTERVAL 600 SECONDS") &&
          $"c.click_ts" <= $"p.purchase_ts")
      .select($"p.purchase_id", $"c.click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((100L, 1L), (100L, 5L), (100L, 6L)))
  }

  test("stream-stream left-outer attribution: unmatched clicks emit nulls after the watermark") {
    implicit val sql = spark.sqlContext
    val inC = MemoryStream[(Long, Timestamp, Long)]
    val inP = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = StreamOps.attributionJoinLeftOuter(
        inC.toDF.toDF("user_id", "click_ts", "click_id"),
        inP.toDF.toDF("user_id", "purchase_ts", "purchase_id", "purchase_value"),
        "user_id", "click_ts", "purchase_ts", windowSec = 600, watermark = "0 seconds")
      .select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("attrib_lo").outputMode("append").start()
    inC.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),   // converts (purchase 10:08)
      (1L, ts("2024-01-01 09:45:00"), 2L),   // too early -> unmatched
      (2L, ts("2024-01-01 10:05:00"), 3L)))  // other user -> unmatched
    inP.addData(Seq((1L, ts("2024-01-01 10:08:00"), 100L, 9.99)))
    q.processAllAvailable()
    // matched rows emit immediately; a null row emits ONLY once the
    // global watermark (min across inputs = 10:05) clears that
    // click's horizon: click 2 (09:45 + 10 min < 10:05) is proven
    // unmatched already, click 3 (10:05 + 10 min) is still open
    val early = spark.table("attrib_lo").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(early == Set((1L, 100L), (2L, -1L)))
    // advance both watermarks past click_ts + window: absence proven
    inC.addData(Seq((9L, ts("2024-01-02 00:00:00"), 99L)))
    inP.addData(Seq((9L, ts("2024-01-02 00:00:00"), 999L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("attrib_lo")
      .filter($"click_id" < 99L)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(all == Set((1L, 100L), (2L, -1L), (3L, -1L)))
  }

  test("stream-stream interval join: equals the batch range join, one row per pair") {
    implicit val sql = spark.sqlContext
    val pointRows = Seq(
      (10L, ts("2024-01-01 10:00:00")),  // == lo of interval 1 (inclusive)
      (11L, ts("2024-01-01 10:25:00")),  // interior, interval 1 spans 3+ buckets
      (12L, ts("2024-01-01 10:40:00")),  // == hi of interval 1 (inclusive)
      (13L, ts("2024-01-01 10:41:00")),  // just past hi — no match
      (14L, ts("2024-01-01 12:05:00")),  // inside interval 2 only
      (15L, ts("2024-01-01 09:00:00"))) // before everything
    val ivRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00")),
      (2L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:10:00")),
      (3L, ts("2024-01-01 10:20:00"), ts("2024-01-01 10:10:00"))) // inverted: drops
    val inP = MemoryStream[(Long, Timestamp)]
    val inI = MemoryStream[(Long, Timestamp, Timestamp)]
    val q = StreamOps.intervalJoin(
        inP.toDF.toDF("point_id", "pts"),
        inI.toDF.toDF("interval_id", "lo_ts", "hi_ts"),
        "pts", "lo_ts", "hi_ts",
        maxSpanSec = 3600, bucketSec = 600, watermark = "0 seconds")
      .select("point_id", "interval_id")
      .writeStream.format("memory").queryName("ivjoin_s").outputMode("append").start()
    inP.addData(pointRows)
    inI.addData(ivRows)
    q.processAllAvailable()
    // push both watermarks far forward so all joined rows emit
    inP.addData(Seq((99L, ts("2024-01-02 00:00:00"))))
    inI.addData(Seq((99L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivjoin_s")
      .filter($"point_id" < 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly once per qualifying pair — the point's single bucket is
    // the only meeting place, so no multiplicity even on intervals
    // spanning several buckets
    assert(streamed.size == streamed.toSet.size, s"duplicated pairs: $streamed")
    // the REAL pin: the batch bucketized range join over the same rows
    // (epoch seconds, same bucket width) — a unilateral boundary change
    // on either side breaks this equality
    val batch = graft.operators.RangeJoin.pointInInterval(
        pointRows.toDF("point_id", "pts")
          .select($"point_id", unix_seconds($"pts").as("p")),
        "p",
        ivRows.toDF("interval_id", "lo_ts", "hi_ts")
          .select($"interval_id", unix_seconds($"lo_ts").as("lo"),
            unix_seconds($"hi_ts").as("hi")),
        "lo", "hi", bucketWidth = 600L)
      .select("point_id", "interval_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.toSet == batch)
    assert(streamed.toSet == Set((10L, 1L), (11L, 1L), (12L, 1L), (14L, 2L)))
  }

  test("stateless curation gates run unchanged on streams: split+fold stream == batch") {
    implicit val sql = spark.sqlContext
    import graft.operators.Sampling
    val rows = (1L to 500L).map(i => (i, i % 97))
    val in = MemoryStream[(Long, Long)]
    // the md5-keyed samplers are pure row functions — they compose
    // straight into a streaming projection with NO state, and the
    // stream's assignment is bit-identical to the batch's (the
    // deterministic-sampler property, now proven on the stream path)
    val q = Sampling.kfoldAssign(
        Sampling.splitAssign(in.toDF.toDF("event_id", "user_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("user_id")),
        k = 5, Seq("user_id"))
      .writeStream.format("memory").queryName("curation_s").outputMode("append").start()
    in.addData(rows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curation_s").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("split"),
        r.getAs[Int]("fold_id"))).toSet
    val batch = Sampling.kfoldAssign(
        Sampling.splitAssign(rows.toDF("event_id", "user_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("user_id")),
        k = 5, Seq("user_id"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("split"),
        r.getAs[Int]("fold_id"))).toSet
    assert(streamed == batch && streamed.size == 500)
  }

  test("stream-stream interval overlap: equals the batch overlap join, one row per pair") {
    implicit val sql = spark.sqlContext
    val leftRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      (2L, ts("2024-01-01 10:40:00"), ts("2024-01-01 11:20:00")),  // spans 4+ buckets
      (3L, ts("2024-01-01 14:00:00"), ts("2024-01-01 14:05:00")))
    val rightRows = Seq(
      (10L, ts("2024-01-01 10:20:00"), ts("2024-01-01 10:50:00")), // overlaps 1 AND 2
      (11L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:31:00")), // touches 1's end
      (12L, ts("2024-01-01 11:20:00"), ts("2024-01-01 11:59:00")), // touches 2's end
      (13L, ts("2024-01-01 12:30:00"), ts("2024-01-01 12:40:00"))) // no partner
    val inL = MemoryStream[(Long, Timestamp, Timestamp)]
    val inR = MemoryStream[(Long, Timestamp, Timestamp)]
    val q = StreamOps.intervalOverlapJoin(
        inL.toDF.toDF("l_id", "l_lo", "l_hi"),
        inR.toDF.toDF("r_id", "r_lo", "r_hi"),
        "l_lo", "l_hi", "r_lo", "r_hi",
        maxSpanSec = 3600, bucketSec = 600, watermark = "0 seconds")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("ovjoin_s").outputMode("append").start()
    inL.addData(leftRows)
    inR.addData(rightRows)
    q.processAllAvailable()
    inL.addData(Seq((99L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"))))
    inR.addData(Seq((99L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ovjoin_s").filter($"l_id" < 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ownership rule: exactly one copy per qualifying pair even when
    // both intervals share several buckets
    assert(streamed.size == streamed.toSet.size, s"duplicated pairs: $streamed")
    val batch = graft.operators.RangeJoin.intervalOverlap(
        leftRows.toDF("l_id", "l_lo", "l_hi")
          .select($"l_id", unix_seconds($"l_lo").as("la"), unix_seconds($"l_hi").as("ha")),
        "la", "ha",
        rightRows.toDF("r_id", "r_lo", "r_hi")
          .select($"r_id", unix_seconds($"r_lo").as("lb"), unix_seconds($"r_hi").as("hb")),
        "lb", "hb", bucketWidth = 600L)
      .select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.toSet == batch)
    assert(streamed.toSet ==
      Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)))
  }

  test("foreachBatch merge sink: grains never duplicate across micro-batches") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mergesink").toString
    val target = s"$dir/fct"
    val in = MemoryStream[(Long, String, Long, Double)]
    val df = in.toDF.toDF("user_id", "event_type", "event_id", "value")
    val q = StreamOps.mergeSink(df, s"$dir/ckpt", target,
      grain = Seq("user_id", "event_type"), order = Seq("event_id")).start()
    // batch 1: one grain re-delivered in-batch (latest event_id wins)
    in.addData(Seq((1L, "A", 1L, 10.0), (1L, "A", 2L, 11.0), (2L, "B", 3L, 20.0)))
    q.processAllAvailable()
    // batch 2: replays grain (1,A) with new data (must NOT replace) + new grain
    in.addData(Seq((1L, "A", 9L, 99.0), (3L, "C", 4L, 30.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(target)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      (1L, "A") -> (2L, 11.0),   // in-batch latest, kept over the batch-2 replay
      (2L, "B") -> (3L, 20.0),
      (3L, "C") -> (4L, 30.0)))
  }

  test("foreachBatch SCD2 sink: streamed dim equals the full-history rebuild") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2sink").toString
    val target = s"$dir/dim"
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val df = in.toDF.toDF("user_id", "ts", "event_id", "segment")
    val q = StreamOps.scd2Sink(df, s"$dir/ckpt", target,
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("segment")).start()
    // day-aligned batches (the applyChanges precondition): batch 2 only
    // covers days after batch 1's cutoff
    val batch1 = Seq(
      (1L, ts("2024-01-01 08:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 18:00:00"), 2L, "b"),  // same-day latest wins
      (2L, ts("2024-01-02 09:00:00"), 3L, "x"))
    val batch2 = Seq(
      (1L, ts("2024-01-03 10:00:00"), 4L, "c"),  // version change
      (2L, ts("2024-01-04 11:00:00"), 5L, "x"),  // no change -> no version
      (3L, ts("2024-01-04 12:00:00"), 6L, "new")) // new key
    in.addData(batch1); q.processAllAvailable()
    in.addData(batch2); q.processAllAvailable()
    q.stop()
    val streamedDim = spark.read.parquet(target)
    val fullRebuild = graft.operators.Scd2.fromHistory(
      (batch1 ++ batch2).toDF("user_id", "ts", "event_id", "segment"),
      "user_id", "ts", Seq("event_id"), Seq("segment"))
    assert(streamedDim.count() == 4) // u1: b,c; u2: x; u3: new
    assert(streamedDim.exceptAll(fullRebuild).isEmpty &&
      fullRebuild.exceptAll(streamedDim).isEmpty)
  }

  test("foreachBatch SCD2 sink fails loudly on a same-day replay") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2guard").toString
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val df = in.toDF.toDF("user_id", "ts", "event_id", "segment")
    val q = StreamOps.scd2Sink(df, s"$dir/ckpt", s"$dir/dim",
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("segment")).start()
    in.addData(Seq((1L, ts("2024-01-01 18:00:00"), 1L, "a")))
    q.processAllAvailable()
    // batch 2 re-observes the already-versioned day — the guard must
    // refuse instead of letting the 09:00 row beat the 18:00 winner
    in.addData(Seq((1L, ts("2024-01-01 09:00:00"), 2L, "b")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("re-observe") ||
      Option(e.getCause).exists(_.getMessage.contains("re-observe")))
  }

  test("streaming session_window emits the batch twin's sessions") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val df = in.toDF.toDF("user_id", "ts", "event_id", "value")
    // the same aggregation shape as Sessionize.byGapBuiltin minus the
    // ordinal (session_seq needs a rank over closed sessions — a batch
    // concern; streams key sessions by (user, start) instead)
    val sessions = df.withWatermark("ts", "0 seconds")
      .groupBy($"user_id", session_window($"ts", "1800 seconds").as("sw"))
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        coalesce(round(sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2))), 2),
          lit(0)).cast("double").as("value_sum"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"value_sum")
    val q = sessions.writeStream.format("memory").queryName("sessw")
      .outputMode("append").start()
    val u1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.5),
      (1L, ts("2024-01-01 10:10:00"), 2L, 2.0),  // gap 600s -> same session
      (1L, ts("2024-01-01 12:00:00"), 3L, 4.0))  // new session
    in.addData(u1); q.processAllAvailable()
    // advance the watermark past both sessions' close so append emits them
    in.addData(Seq((9L, ts("2024-01-01 23:00:00"), 99L, 0.0)))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessw").filter($"user_id" === 1L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = Sessionize.byGap(u1.toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", gapSec = 1800)
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"value_sum")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == batch)
    assert(streamed.size == 2)
  }

  test("merge sink: a re-delivered batch id is skipped as a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mergereplay").toString
    val target = s"$dir/fct"
    val b0 = Seq((1L, "A", 1L, 10.0)).toDF("user_id", "event_type", "event_id", "value")
    StreamOps.mergeBatchToParquet(b0, target, Seq("user_id", "event_type"), Seq("event_id"), 0L, Some("w0"))
    // at-least-once replay of batch 0 with DIFFERENT content (a
    // restarted query re-reads the same offsets; content equality is
    // the source's contract, but the sink must not even look): no-op
    val b0replay = Seq((1L, "A", 9L, 99.0), (7L, "Z", 2L, 1.0))
      .toDF("user_id", "event_type", "event_id", "value")
    StreamOps.mergeBatchToParquet(b0replay, target, Seq("user_id", "event_type"), Seq("event_id"), 0L, Some("w0"))
    assert(spark.read.parquet(target).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == Set((1L, "A", 1L)))
    // the NEXT batch id applies normally
    val b1 = Seq((2L, "B", 3L, 20.0)).toDF("user_id", "event_type", "event_id", "value")
    StreamOps.mergeBatchToParquet(b1, target, Seq("user_id", "event_type"), Seq("event_id"), 1L, Some("w0"))
    assert(spark.read.parquet(target).count() == 2)
    // the marker's bytes are the on-disk contract: (batch, writer)
    val marker = java.nio.file.Paths.get(target, "_graft_commit.json")
    assert(java.nio.file.Files.readString(marker) == """{"batch_id": 1, "query_id": "w0"}""")
    // a marker that names no writer is foreign: it never suppresses a
    // batch, even one whose id it covers (the checksum twin goes too,
    // so the hand edit reads back)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(target, "._graft_commit.json.crc"))
    java.nio.file.Files.writeString(marker, """{"batch_id": 5}""")
    val b2 = Seq((3L, "C", 4L, 30.0)).toDF("user_id", "event_type", "event_id", "value")
    StreamOps.mergeBatchToParquet(b2, target, Seq("user_id", "event_type"), Seq("event_id"), 2L, Some("w0"))
    assert(spark.read.parquet(target).count() == 3)
    // a replay-guarded write with NO identity (no stream, no writerId)
    // fails loudly instead of sharing a default identity
    val e = intercept[IllegalStateException] {
      StreamOps.mergeBatchToParquet(b1, target,
        Seq("user_id", "event_type"), Seq("event_id"), 3L)
    }
    assert(e.getMessage.contains("no writer identity"))
  }

  test("merge sink: the next batch heals either crash state a swap can leave") {
    val grain = Seq("user_id", "event_type"); val order = Seq("event_id")
    val b0 = Seq((1L, "A", 1L, 10.0)).toDF("user_id", "event_type", "event_id", "value")
    val b1 = Seq((2L, "B", 2L, 20.0)).toDF("user_id", "event_type", "event_id", "value")
    for (oldKept <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_mergecrash").toString
      val target = s"$dir/fct"
      StreamOps.mergeBatchToParquet(b0, target, grain, order, 0L, Some("w0"))
      val old = new java.io.File(target + ".__graft_old")
      // died between the swap's two renames: the target sits renamed
      // aside, nothing at `target`; or died before dropping the old
      // copy: target and the leftover both present
      if (oldKept) org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(target), old)
      else assert(new java.io.File(target).renameTo(old))
      StreamOps.mergeBatchToParquet(b1, target, grain, order, 1L, Some("w0"))
      assert(!old.exists(), s"leftover ${old.getName} survived (oldKept=$oldKept)")
      assert(spark.read.parquet(target).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
        Set((1L, "A", 1L), (2L, "B", 2L)), s"oldKept=$oldKept")
    }
  }

  test("merge sink: a foreign query's commit marker never suppresses a new query's batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mergeforeign").toString
    val target = s"$dir/fct"
    val grain = Seq("user_id", "event_type"); val order = Seq("event_id")
    val sc = spark.sparkContext
    // simulate query A's stream-execution thread (the same local
    // property StreamExecution sets for foreachBatch)
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try {
      val b3 = Seq((1L, "A", 1L, 10.0)).toDF("user_id", "event_type", "event_id", "value")
      StreamOps.mergeBatchToParquet(b3, target, grain, order, 3L)
      // same query replaying the same batch id → still a no-op
      val replay = Seq((9L, "Z", 9L, 9.0)).toDF("user_id", "event_type", "event_id", "value")
      StreamOps.mergeBatchToParquet(replay, target, grain, order, 3L)
      assert(spark.read.parquet(target).count() == 1)
      // checkpoint deleted / a different query adopts the target: batch
      // ids restart at 0. Keyed on batch id alone, 0 <= 3 would SKIP
      // this genuinely new batch — silent data loss; keyed on (query,
      // batch) the marker is foreign and the batch applies.
      sc.setLocalProperty("sql.streaming.queryId", "query-B")
      StreamOps.mergeBatchToParquet(replay, target, grain, order, 0L)
      assert(spark.read.parquet(target).count() == 2,
        "a foreign marker suppressed a new query's first batch")
      // and query B's own replay of its batch 0 now no-ops
      val replay2 = Seq((5L, "Q", 5L, 5.0)).toDF("user_id", "event_type", "event_id", "value")
      StreamOps.mergeBatchToParquet(replay2, target, grain, order, 0L)
      assert(spark.read.parquet(target).count() == 2)
    } finally sc.setLocalProperty("sql.streaming.queryId", null)
  }

  test("streaming funnel stages advance in order and never regress") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val ds = in.toDF.toDF("user_id", "ts", "event_id", "et")
      .as[StreamOps.FunnelEvent]
    val q = StreamOps.funnelStages(ds)
      .writeStream.format("memory").queryName("funnel_s")
      .outputMode("update").start()
    in.addData(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "click"),   // click BEFORE any view
      (3L, ts("2024-01-01 10:00:00"), 3L, "view")))
    q.processAllAvailable()
    in.addData(Seq(
      (1L, ts("2024-01-01 11:00:00"), 4L, "click"),
      (1L, ts("2024-01-01 12:00:00"), 5L, "purchase"),
      (2L, ts("2024-01-01 11:00:00"), 6L, "view"),
      (3L, ts("2024-01-01 11:00:00"), 7L, "purchase"))) // purchase, no click
    q.processAllAvailable(); q.stop()
    // stages are monotone, so the latest emission per user is the max
    val got = spark.table("funnel_s").groupBy("user_id")
      .agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // u1 completes the funnel across batches; u2's early click never
    // counts (stage 1 from the later view); u3 never clicks -> stage 1
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("agg sink: streamed rollup equals the batch recompute; replay never double-counts") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_aggsink").toString
    val target = s"$dir/rollup"
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("value_sum"))
    val in = MemoryStream[(String, Double)]
    val df = in.toDF.toDF("event_type", "value")
    val q = StreamOps.aggSink(df, s"$dir/ckpt", target, Seq("event_type"), partial).start()
    val b1 = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0))
    val b2 = Seq(("A", 4.0), ("C", 5.0))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_type", $"n_events", $"value_sum".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = norm(spark.read.parquet(target))
    assert(streamed == norm(partial((b1 ++ b2).toDF("event_type", "value"))))
    assert(streamed == Set(("A", 3L, 7.0), ("B", 1L, 3.0), ("C", 1L, 5.0)))
    // a replayed batch id must NOT double-count — the rollup's one
    // catastrophic failure mode under at-least-once delivery. The
    // replay comes from the SAME query restarting (its id persists in
    // the checkpoint), so the simulation carries the query's identity;
    // an identity-less replay would be a FOREIGN writer and rightly
    // apply (see the merge-sink foreign-marker spec).
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.aggBatchToParquet(b2.toDF("event_type", "value"), target,
        Seq("event_type"), partial, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(norm(spark.read.parquet(target)) == streamed)
  }

  test("sketch sink: streamed sketches match direct sketching; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sketchsink").toString
    val target = s"$dir/sketches"
    val in = MemoryStream[(String, Long)]
    val df = in.toDF.toDF("grp", "uid")
    val q = StreamOps.sketchSink(df, s"$dir/ckpt", target, Seq("grp"), "uid").start()
    // heavy overlap across batches: distinct state must not double
    val b1 = (1L to 400L).map(u => ("A", u)) ++ (1L to 100L).map(u => ("B", u))
    val b2 = (201L to 600L).map(u => ("A", u)) ++ (1L to 100L).map(u => ("B", u))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    def estimates(path: String) = spark.read.parquet(path)
      .select($"grp", hll_sketch_estimate($"sk").as("est"), $"n_rows")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = estimates(target)
    // union-of-batches tracks sketching all data at once. Bit-equality
    // holds only in the sparse (coupon-list) regime — B's 100
    // distincts; A's 600 promote the sketch to dense HLL mode where
    // the union path and the update path legitimately differ within
    // the sketch's error bound.
    val direct = (b1 ++ b2).toDF("grp", "uid")
      .groupBy($"grp").agg(hll_sketch_estimate(
        hll_sketch_agg($"uid", lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("B")._1 == direct("B")) // sparse regime: exact agreement
    assert(math.abs(got("A")._1 - direct("A")).toDouble / 600.0 < 0.03)
    assert(math.abs(got("A")._1 - 600.0) / 600.0 < 0.05)
    assert(math.abs(got("B")._1 - 100.0) < 5)
    assert(got("A")._2 == 800L && got("B")._2 == 200L) // raw rows, not distincts
    // replaying batch 1 under the query's identity must change nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.sketchBatchToParquet(b2.toDF("grp", "uid"), target,
        Seq("grp"), "uid", lgK = 12, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(estimates(target) == got)
  }

  test("kll sink: streamed quantile sketches inside the envelope; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_kllsink").toString
    val target = s"$dir/sketches"
    val in = MemoryStream[(String, Double)]
    val df = in.toDF.toDF("grp", "v")
    val q = StreamOps.kllSink(df, s"$dir/ckpt", target, Seq("grp"), "v").start()
    // disjoint ranges per batch: the stored sketch's median is only
    // right if batch-2 mass actually MERGED into batch-1's sketch
    val b1 = (1 to 5000).map(i => ("A", i.toDouble)) ++
      (1 to 1000).map(i => ("B", i.toDouble))
    val b2 = (5001 to 10000).map(i => ("A", i.toDouble)) ++
      (1001 to 2000).map(i => ("B", i.toDouble))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    import graft.expressions.Kll
    def medians(path: String) = spark.read.parquet(path)
      .select($"grp",
        element_at(Kll.quantiles($"sk", Seq(0.5)), 1).as("p50"),
        $"n_rows")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val got = medians(target)
    assert(got("A")._2 == 10000L && got("B")._2 == 2000L)
    assert(math.abs(got("A")._1 / 10000.0 - 0.5) <= 2.0 / 200 + 1e-9)
    assert(math.abs(got("B")._1 / 2000.0 - 0.5) <= 2.0 / 200 + 1e-9)
    // replaying an applied batch id under the query's identity must
    // change nothing (double-merge would drag the median up)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.kllBatchToParquet(b2.toDF("grp", "v"), target,
        Seq("grp"), "v", k = 200, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(medians(target) == got)
  }

  test("kmv sink: stored k-min lists equal a batch recompute exactly; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_kmvsink").toString
    val target = s"$dir/sketches"
    val in = MemoryStream[(String, Long)]
    val df = in.toDF.toDF("grp", "uid")
    val k = 64
    val q = StreamOps.kmvSink(df, s"$dir/ckpt", target, Seq("grp"), "uid", k = k)
      .start()
    // overlapping uid ranges across batches: the union must dedup, and
    // batch-2 hashes must be able to DISPLACE batch-1 list members
    val b1 = (1L to 500L).map(u => ("A", u)) ++ (1L to 30L).map(u => ("B", u))
    val b2 = (301L to 900L).map(u => ("A", u)) ++ (21L to 50L).map(u => ("B", u))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val stored = spark.read.parquet(target)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // EXACT merge: the stored lists equal the k-min a batch recompute
    // over everything streamed so far would produce
    import org.apache.spark.sql.expressions.Window
    val expect = (b1 ++ b2).toDF("grp", "uid").distinct()
      .select($"grp",
        graft.operators.Sampling.md5Long60(Seq($"uid")).as("h"))
      .distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy($"grp").orderBy($"h")))
      .filter($"rn" <= k).select($"grp", $"h")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stored == expect)
    // bounded state: A saturates at k, B (50 distinct) stays exact
    val byGrp = stored.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byGrp("A") == k && byGrp("B") == 50)
    // replay of an applied batch id under the query identity: no-op
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.kmvBatchToParquet(b2.toDF("grp", "uid"), target,
        Seq("grp"), "uid", k = k, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(target)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet == stored)
  }

  test("drift-alert sink: quiet batch passes, shifted batch alerts; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_driftsink").toString
    val target = s"$dir/alerts"
    // baseline: uniform mass over [0, 100) in 10 buckets
    val baseline = Seq.fill(10)(100L)
    val in = MemoryStream[Double]
    val df = in.toDF.toDF("value")
    val q = StreamOps.driftAlertSink(df, s"$dir/ckpt", target, "value",
      baseline, lo = 0.0, hi = 100.0, alertTv = 0.2).start()
    // batch 0: uniform like the baseline — no alert
    in.addData((0 until 100).map(i => i.toDouble + 0.5)); q.processAllAvailable()
    // batch 1: everything piled into one bucket — alert
    in.addData(Seq.fill(100)(5.0)); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(target)
      .collect().map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Boolean]("alert"), r.getAs[Double]("tv_dist"),
          r.getAs[Double]("psi"), r.getAs[Long]("n_rows"),
          r.getAs[Double]("js_div"))).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(!got(0L)._1 && got(0L)._2 == 0.0)
    assert(got(1L)._1 && math.abs(got(1L)._2 - 0.9) < 1e-12) // 90% of mass moved
    assert(got(1L)._3 > got(0L)._3) // PSI agrees with TV's ordering
    assert(got.values.forall(_._4 == 100L))
    // JS: zero on the identical batch, positive and ≤ ln 2 on the shift
    assert(got(0L)._5 == 0.0)
    assert(got(1L)._5 > 0.0 && got(1L)._5 <= math.log(2) + 1e-12)
    // replaying an applied batch id appends nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.driftAlertBatch(Seq.fill(50)(5.0).toDF("value"), target,
        "value", baseline, 0.0, 100.0, 0.2, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(target).count() == 2L)
  }

  test("schema-drift sink: type flip and null surge flagged per batch; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_schemadrift").toString
    val target = s"$dir/drift"
    val expected = Map("id" -> "BIGINT", "amt" -> "DOUBLE")
    val in = MemoryStream[(String, String)]
    val q = StreamOps.schemaDriftSink(
      in.toDF.toDF("id", "amt"), s"$dir/ckpt", target,
      Seq("id", "amt"), expected).start()
    // batch 0: clean drop — both columns infer to their contract
    in.addData((1 to 50).map(i => (i.toString, s"$i.25")))
    q.processAllAvailable()
    // batch 1: the producer ships alpha ids and mostly-NULL amounts
    in.addData((1 to 50).map(i =>
      (s"id-$i", if (i <= 5) s"$i.5" else null)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("column_name")) -> r)
      .toMap
    assert(got.size == 4)
    assert(got((0L, "id")).getAs[Boolean]("type_ok"))
    assert(got((0L, "amt")).getAs[Boolean]("type_ok"))
    val badId = got((1L, "id"))
    assert(badId.getAs[String]("inferred_type") == "VARCHAR" &&
      !badId.getAs[Boolean]("type_ok"))
    val badAmt = got((1L, "amt"))
    assert(math.abs(badAmt.getAs[Double]("null_rate") - 0.9) < 1e-12)
    assert(badAmt.getAs[Boolean]("type_ok")) // the 5 values still parse DOUBLE
    // replaying an applied batch id appends nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.schemaDriftBatch(
        Seq(("x", "y")).toDF("id", "amt"), target,
        Seq("id", "amt"), expected, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(target).count() == 4L)
  }

  test("cusum-alert sink: drift accumulates across batches to an alert; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cusumsink").toString
    val target = s"$dir/alerts"
    val in = MemoryStream[Double]
    val q = StreamOps.cusumAlertSink(in.toDF.toDF("value"), s"$dir/ckpt",
      target, "value", baselineMean = 10.0, threshold = 5.0).start()
    // three batches each +2 over the baseline: the walk hits 6 >= 5 on
    // the third — a single batch's +2 never alerts, the ACCUMULATION does
    for (_ <- 1 to 3) { in.addData(Seq.fill(20)(12.0)); q.processAllAvailable() }
    // a batch back AT baseline holds the walk (cusum stays, no growth)
    in.addData(Seq.fill(20)(10.0)); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(target).orderBy("batch_seq").collect()
      .map(r => (r.getAs[Long]("batch_seq"), r.getAs[Double]("cusum"),
        r.getAs[Boolean]("alert"), r.getAs[Double]("deviation")))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._2).toSeq == Seq(2.0, 4.0, 6.0, 6.0))
    assert(got.map(_._3).toSeq == Seq(false, false, true, true))
    assert(got(3)._4 == 0.0)
    // replaying an applied batch id appends nothing and keeps the walk
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.cusumAlertBatch(Seq.fill(20)(12.0).toDF("value"), target,
        "value", 10.0, 5.0, batchId = 2L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(target).count() == 4L)
    // an empty batch carries the state forward without moving it
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.cusumAlertBatch(Seq.empty[Double].toDF("value"), target,
        "value", 10.0, 5.0, batchId = 9L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    val tail = spark.read.parquet(target).orderBy("batch_seq").collect().last
    assert(tail.getAs[Long]("n_rows") == 0L && tail.getAs[Double]("cusum") == 6.0)
    assert(tail.isNullAt(tail.fieldIndex("batch_mean")))
  }

  test("SCD2 sink: replaying an applied batch id is a no-op, not a poison batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2replay").toString
    val target = s"$dir/dim"
    val b0 = Seq((1L, ts("2024-01-01 18:00:00"), 1L, "a"))
      .toDF("user_id", "ts", "event_id", "segment")
    StreamOps.scd2BatchToParquet(b0, target, "user_id", "ts", Seq("event_id"), Seq("segment"), 0L, Some("w0"))
    val applied = spark.read.parquet(target).collect()
    // crash between swap and checkpoint commit => the SAME batch id is
    // re-delivered; without the commit marker the replay guard would
    // see its own already-applied day and throw forever
    StreamOps.scd2BatchToParquet(b0, target, "user_id", "ts", Seq("event_id"), Seq("segment"), 0L, Some("w0"))
    assert(spark.read.parquet(target).collect().toSet == applied.toSet)
  }

  test("SCD2 sink guard catches re-observation of a day that produced no version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2obs").toString
    val target = s"$dir/dim"
    def apply(id: Long, rows: Seq[(Long, Timestamp, Long, String)]): Unit =
      StreamOps.scd2BatchToParquet(rows.toDF("user_id", "ts", "event_id", "segment"),
        target, "user_id", "ts", Seq("event_id"), Seq("segment"), id, Some("w0"))
    apply(0L, Seq((1L, ts("2024-01-01 10:00:00"), 1L, "a")))
    // day 2 re-observes segment "a": NO version change, valid_from
    // stays day 1 — exactly the case a valid_from-only guard is blind to
    apply(1L, Seq((1L, ts("2024-01-02 12:00:00"), 2L, "a")))
    // a later batch replays day 2 with an intraday-earlier, different
    // observation; unguarded it would win and diverge from the rebuild
    val e = intercept[IllegalStateException] {
      apply(2L, Seq((1L, ts("2024-01-02 08:00:00"), 3L, "b")))
    }
    assert(e.getMessage.contains("re-observe"))
    // and the watermark itself stays hidden from plain reads
    assert(!spark.read.parquet(target).columns.contains("max_obs_day"))
  }

  test("top-k sink: MG bound holds across truncations, re-entry included; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_topksink").toString
    val target = s"$dir/topk"
    val in = MemoryStream[String]
    val q = StreamOps.topkSink(in.toDF.toDF("k"), s"$dir/ckpt", target,
      Seq("k"), capacity = 2).start()
    // batch 1: a×5 b×3 c×1 -> t = 1 -> stored a:4 b:2, err 1
    val b1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    // batch 2: c×4 b×1 -> merged a4 b3 c4 -> t = 3 -> a:1 c:1, err 4
    val b2 = Seq.fill(4)("c") ++ Seq("b")
    in.addData(b1); q.processAllAvailable()
    val after1 = spark.read.parquet(target).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("cnt"), r.getAs[Long]("err"))).toMap
    assert(after1 == Map("a" -> ((4L, 1L)), "b" -> ((2L, 1L))))
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(target).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("cnt"), r.getAs[Long]("err"))).toMap
    assert(after2 == Map("a" -> ((1L, 4L)), "c" -> ((1L, 4L))))
    // the MG guarantee: stored cnt <= true <= cnt + err for EVERY key,
    // including the re-entered c (true 5) and the dropped b (true 4)
    val truth = Map("a" -> 5L, "b" -> 4L, "c" -> 5L)
    truth.foreach { case (k, n) =>
      val (cnt, err) = after2.getOrElse(k, (0L, 4L))
      assert(cnt <= n && n <= cnt + err, s"$k: $cnt <= $n <= ${cnt + err}")
    }
    // replaying batch 1 under the query's identity must change nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.topkBatchToParquet(b1.toDF("k"), target, Seq("k"),
        capacity = 2, batchId = 0L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    val after3 = spark.read.parquet(target).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("cnt"), r.getAs[Long]("err"))).toMap
    assert(after3 == after2)
  }

  test("count-min sink: merged grid equals the single-shot sketch; estimates bound; replay no-ops") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cmsink").toString
    val target = s"$dir/cms"
    val in = MemoryStream[String]
    val q = StreamOps.countMinSink(in.toDF.toDF("item"), s"$dir/ckpt", target,
      "item", d = 3, w = 16).start()
    val b1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val b2 = Seq.fill(4)("c") ++ Seq("b") ++ Seq.fill(2)("d")
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val merged = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Long]("bucket")) -> r.getAs[Long]("cell_n"))
      .toMap
    // mergeability: the streamed grid IS the single-shot sketch of the
    // full history (cell-wise addition is exact)
    import spark.implicits._
    val direct = graft.operators.Profiling.countMinTopN(
      (b1 ++ b2).toDF("item"), "item", d = 3, w = 16, topN = 10)
    // total mass check: sum of cells per row r equals total items
    val total = (b1 ++ b2).size.toLong
    (0 until 3).foreach { r =>
      assert(merged.collect { case ((`r`, _), n) => n }.sum == total)
    }
    // the one-sided estimate bound for every item, probed via the twin
    direct.collect().foreach { row =>
      assert(row.getAs[Long]("n_est") >= row.getAs[Long]("n_exact"))
    }
    // and the batch twin's estimate over the streamed grid matches:
    // min over the item's 3 stored cells >= its true count
    val truth = (b1 ++ b2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (item, n) =>
      val est = (0 until 3).map { r =>
        val b = graft.operators.Sampling.md5Long32(Seq(lit(r), lit(item)))
        val bucket = Seq((1)).toDF("x")
          .select(pmod(b, lit(16)).as("b")).collect().head.getAs[Long]("b")
        merged.getOrElse((r, bucket), 0L)
      }.min
      assert(est >= n, s"$item: est $est < true $n")
    }
    // replaying batch 0 under the query's identity must change nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.countMinBatchToParquet(b1.toDF("item"), target, "item",
        d = 3, w = 16, batchId = 0L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    val after = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Long]("bucket")) -> r.getAs[Long]("cell_n"))
      .toMap
    assert(after == merged)
  }

  test("lateness sink: per-batch lateness buckets against the stored high water; replay no-ops") {
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_latesink").toString
    val target = s"$dir/late"
    val in = MemoryStream[Timestamp]
    val q = StreamOps.latenessSink(in.toDF.toDF("ts"), s"$dir/ckpt", target, "ts")
      .start()
    // batch 0: establishes high water 12:00
    in.addData(Timestamp.valueOf("2024-03-01 11:00:00"),
      Timestamp.valueOf("2024-03-01 12:00:00"))
    q.processAllAvailable()
    // batch 1 vs high water 12:00: one on-time (12:30), one 30s late,
    // one 5min late, one 30min late
    in.addData(Timestamp.valueOf("2024-03-01 12:30:00"),
      Timestamp.valueOf("2024-03-01 11:59:30"),
      Timestamp.valueOf("2024-03-01 11:55:00"),
      Timestamp.valueOf("2024-03-01 11:30:00"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    val b0 = rows(0L)
    assert(b0.getAs[Long]("n_rows") == 2L && b0.getAs[Long]("n_on_time") == 2L)
    assert(b0.isNullAt(b0.fieldIndex("high_water_before")))
    assert(b0.getAs[Timestamp]("high_water_after") ==
      Timestamp.valueOf("2024-03-01 12:00:00"))
    val b1 = rows(1L)
    assert(b1.getAs[Long]("n_on_time") == 1L)
    assert(b1.getAs[Long]("n_late_1m") == 1L)
    assert(b1.getAs[Long]("n_late_10m") == 1L)
    assert(b1.getAs[Long]("n_late_inf") == 1L)
    assert(b1.getAs[Timestamp]("high_water_after") ==
      Timestamp.valueOf("2024-03-01 12:30:00"))
    // replaying batch 0 under the query's identity must change nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.latenessBatchToParquet(
        Seq(Timestamp.valueOf("2024-03-01 11:00:00")).toDF("ts"),
        target, "ts", batchId = 0L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(target).count() == 2L)
  }

  test("msprt sink: per-batch readout equals the batch operator on the same prefix; replay no-ops") {
    import java.sql.Timestamp
    import graft.operators.AnalyticsPack
    implicit val sql = spark.sqlContext
    def ev(u: Long, split: String, day: Int, et: String) =
      (u, split, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), et, 100.0)
    val prefix1 =
      (1L to 4L).map(ev(_, "A", 1, "CLICK")) ++
      (5L to 8L).map(ev(_, "B", 1, "CLICK")) ++
      Seq(ev(5L, "B", 2, "PURCHASE"), ev(6L, "B", 2, "PURCHASE"))
    val increment =
      Seq(ev(7L, "B", 3, "PURCHASE")) ++ (1L to 3L).map(ev(_, "A", 4, "PURCHASE"))
    val conv = upper(trim(col("event_type"))) === "PURCHASE" && col("value") > 95
    def lastRow(rows: Seq[(Long, String, Timestamp, String, Double)]) =
      AnalyticsPack.msprtSequential(
        rows.toDF("user_id", "split", "ts", "event_type", "value"),
        "split", "A", conv)
        .orderBy(col("day").desc).collect().head
    val exp1 = lastRow(prefix1)
    val exp2 = lastRow(prefix1 ++ increment)

    val dir = java.nio.file.Files.createTempDirectory("graft_msprtsink").toString
    val in = MemoryStream[(Long, String, Timestamp, String, Double)]
    val q = StreamOps.msprtSink(
      in.toDF.toDF("user_id", "split", "ts", "event_type", "value"),
      s"$dir/ckpt", s"$dir/state", s"$dir/readout", "split", "A", conv)
      .start()
    in.addData(prefix1: _*); q.processAllAvailable()
    in.addData(increment: _*); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$dir/readout").collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(rows.size == 2)
    val (b0, b1) = (rows(0L), rows(1L))
    assert(b0.getAs[Long]("n_a") == 4L && b0.getAs[Long]("n_b") == 4L)
    assert(b0.getAs[Long]("conv_a") == 0L && b0.getAs[Long]("conv_b") == 2L)
    assert(b0.getAs[Double]("ln_lambda") == exp1.getAs[Double]("ln_lambda"))
    assert(b1.getAs[Long]("conv_a") == 3L && b1.getAs[Long]("conv_b") == 3L)
    assert(b1.getAs[Double]("ln_lambda") == exp2.getAs[Double]("ln_lambda"))
    // always-valid: run max over the sink's own readout sequence
    val expMax = math.max(b0.getAs[Double]("ln_lambda"), b1.getAs[Double]("ln_lambda"))
    assert(b1.getAs[Double]("run_max") == expMax)
    assert(b1.getAs[Double]("ln_p_always_valid") == -math.max(0.0, expMax))
    // per-user state stays one row per user with converted-ever flags
    val state = spark.read.parquet(s"$dir/state").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("converted")).toMap
    assert(state.size == 8 && state(5L) == 1L && state(4L) == 0L)
    // replaying batch 1 under the query's identity must change nothing
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try
      StreamOps.msprtBatchToParquet(
        increment.toDF("user_id", "split", "ts", "event_type", "value"),
        s"$dir/state", s"$dir/readout", "split", "A", conv, 0.01, batchId = 1L)
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(spark.read.parquet(s"$dir/readout").count() == 2L)
  }

  test("batch sessionization: gap boundary is inclusive (<= gap stays)") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:30:00"), 2L, 1.0), // exactly 1800s -> same session
      (1L, ts("2024-01-01 11:00:01"), 3L, 1.0)) // 1801s -> new session
      .toDF("user_id", "ts", "event_id", "value")
    val got = Sessionize.byGap(df, "user_id", "ts", "event_id", "value", 1800)
      .orderBy("session_seq").collect()
    assert(got.length == 2)
    assert(got(0).getLong(4) == 2 && got(1).getLong(4) == 1)
  }

  test("dedup decision sink: stored-index probe per batch, first decision wins, replay no-ops") {
    import graft.operators.TextDedup
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupsink").toString
    val (idx, target) = (s"$dir/idx", s"$dir/decisions")
    TextDedup.buildDedupIndex(Seq(
        (10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "an entirely unrelated corpus document lives here"))
      .toDF("doc_id", "text"), "doc_id", "text", idx)
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupDecisionSink(in.toDF.toDF("doc_id", "text"),
      s"$dir/ckpt", idx, target, "doc_id", "text").start()
    // batch 1: corpus exact dup + genuinely new doc
    in.addData((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "novel content appears only in this new batch"))
    q.processAllAvailable()
    def table() = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val t1 = table()
    assert(t1 == Map(100L -> ((false, "EXACT_DUP_CORPUS")),
      101L -> ((true, "KEPT"))))
    // batch 2: near-dup of corpus 10, plus 101 RE-DELIVERED — the
    // first decision must stand (one row per id, original verdict)
    in.addData((102L, "the quick brown fox jumps over the lazy cat"),
      (101L, "novel content appears only in this new batch"))
    q.processAllAvailable()
    q.stop()
    val t2 = table()
    assert(t2 == Map(100L -> ((false, "EXACT_DUP_CORPUS")),
      101L -> ((true, "KEPT")),
      102L -> ((false, "NEAR_DUP_CORPUS"))))
    assert(spark.read.parquet(target).count() == 3L) // no duplicate rows
    // replaying an applied batch id under the query's identity no-ops
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", q.id.toString)
    try {
      StreamOps.dedupDecisionBatch(
        Seq((100L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"), idx, target, "doc_id", "text", 0.5,
        batchId = 0L)
      assert(table() == t2)
    } finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
  }

  test("asofEnrichJoin: watermark-buffered lefts equal the batch as-of, out-of-order rights honored") {
    import graft.streaming.StreamOps.{AsofEvent, AsofJoined}
    implicit val sql = spark.sqlContext
    val in = MemoryStream[AsofEvent]
    val q = StreamOps.asofEnrichJoin(in.toDS(), watermark = "10 seconds")
      .writeStream.format("memory").queryName("asofj").outputMode("append").start()
    // batch 1: a right then a left 5s later — NOT emitted yet (the
    // watermark is still behind the left)
    in.addData(
      AsofEvent(1L, ts("2024-01-01 10:00:00"), 100L, "R", 1.0),
      AsofEvent(1L, ts("2024-01-01 10:00:05"), 1L, "L", 0.0))
    q.processAllAvailable()
    assert(spark.table("asofj").count() == 0L)
    // batch 2: an OUT-OF-ORDER right lands between the first right
    // and the buffered left — because the left waits for the
    // watermark, the late right still covers it; plus a key with no
    // rights at all, a same-instant pair (right applies), duplicate
    // same-ts rights (max event_id wins), and a watermark pusher
    in.addData(
      AsofEvent(1L, ts("2024-01-01 10:00:03"), 101L, "R", 2.0),
      AsofEvent(1L, ts("2024-01-01 10:00:30"), 2L, "L", 0.0),
      AsofEvent(3L, ts("2024-01-01 10:00:01"), 5L, "L", 0.0),
      AsofEvent(4L, ts("2024-01-01 10:00:10"), 200L, "R", 7.0),
      AsofEvent(4L, ts("2024-01-01 10:00:10"), 6L, "L", 0.0),
      AsofEvent(5L, ts("2024-01-01 10:00:02"), 10L, "R", 5.0),
      AsofEvent(5L, ts("2024-01-01 10:00:02"), 11L, "R", 6.0),
      AsofEvent(5L, ts("2024-01-01 10:00:20"), 7L, "L", 0.0),
      AsofEvent(2L, ts("2024-01-01 10:10:00"), 999L, "R", 9.0))
    q.processAllAvailable()
    // batch 3: push the watermark past every buffered left — keys 1,
    // 3, 4, 5 flush via their event-time timeouts (no new data)
    in.addData(AsofEvent(2L, ts("2024-01-01 11:00:00"), 998L, "R", 9.0))
    q.processAllAvailable()
    // boundary pin (platform semantics the <=-flush relies on): for
    // event-time-timeout flatMapGroupsWithState, Spark's late filter
    // drops inputs with ts <= the operative watermark — TIES INCLUDED.
    // A right stamped exactly AT the watermark, sent one microbatch
    // later, never reaches the operator, so flushing lefts at ts <= wm
    // cannot miss a still-admissible same-instant right. If a Spark
    // upgrade ever loosens the filter to strictly-below, this pin
    // flips and the flush must become strict (< wm) with it.
    // wm after this batch: 11:01:00 - 10s = 11:00:50 == the left's ts
    in.addData(
      AsofEvent(6L, ts("2024-01-01 11:00:50"), 20L, "L", 0.0),
      AsofEvent(2L, ts("2024-01-01 11:01:00"), 997L, "R", 9.0))
    q.processAllAvailable()
    // the same-instant right arrives a microbatch later, exactly AT
    // the watermark -> dropped by the late filter, never merged
    in.addData(AsofEvent(6L, ts("2024-01-01 11:00:50"), 300L, "R", 42.0))
    q.processAllAvailable()
    // push the watermark past the left's timeout: it flushes with NO
    // enrichment — the dropped right really never reached the state
    in.addData(AsofEvent(2L, ts("2024-01-01 12:00:00"), 996L, "R", 9.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asofj").as[AsofJoined].collect()
      .map(j => (j.key, j.event_id, j.state_ts.map(_.toString), j.attr)).toSet
    assert(got == Set(
      // both lefts of key 1 resolve to the out-of-order 10:00:03 right
      (1L, 1L, Some("2024-01-01 10:00:03.0"), Some(2.0)),
      (1L, 2L, Some("2024-01-01 10:00:03.0"), Some(2.0)),
      // no right ever for key 3 -> NULL enrichment, row still emitted
      (3L, 5L, None, None),
      // same-instant right applies (the batch dim-first rule)
      (4L, 6L, Some("2024-01-01 10:00:10.0"), Some(7.0)),
      // duplicate same-ts rights: max event_id wins deterministically
      (5L, 7L, Some("2024-01-01 10:00:02.0"), Some(6.0)),
      // the boundary pin: the left at ts == wm flushed unenriched
      // because its same-instant right, sent a microbatch later at
      // exactly the watermark, is dropped by Spark's tie-inclusive
      // late filter — the <=-flush is aligned with that filter
      (6L, 20L, None, None)))
    assert(spark.table("asofj").count() == 6L) // append-only, no dupes
  }
}
