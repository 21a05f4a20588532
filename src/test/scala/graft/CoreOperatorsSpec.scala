package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import java.sql.{Date, Timestamp}

import graft.operators._
import graft.functions.Temporal

class CoreOperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("temporal keys: date_sk / time_30m_sk / tipo_dia") {
    val df = Seq(
      ("2024-01-06 10:29:59", 20240106, 20, "SABADO"),   // Saturday, min<30
      ("2024-01-07 10:30:00", 20240107, 21, "DOMINGO"),  // Sunday, min>=30
      ("2024-01-08 00:00:00", 20240108, 0, "LABORAL"),   // Monday midnight
      ("2024-01-09 23:59:59", 20240109, 47, "LABORAL"))
      .toDF("s", "exp_date_sk", "exp_slot", "exp_tipo")
      .withColumn("ts", to_timestamp($"s"))
    val got = df.select(
      Temporal.dateSk($"ts").as("d"), Temporal.time30mSk($"ts").as("t"),
      Temporal.tipoDia($"ts").as("td"), $"exp_date_sk", $"exp_slot", $"exp_tipo").collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(3) && r.getInt(1) == r.getInt(4) && r.getString(2) == r.getString(5))
    }
  }

  test("quality gate: first-match-wins + exhaustive split") {
    val df = Seq(
      (Some(1L), Some(5.0)),   // valid
      (None, Some(-2.0)),      // MISSING_ID wins over NEG_VALUE
      (Some(2L), Some(-1.0)),  // NEG_VALUE
      (Some(3L), None))        // valid (null value not negative)
      .toDF("id", "v")
    val rules = Seq(
      QualityGate.Rule("MISSING_ID", $"id".isNull),
      QualityGate.Rule("NEG_VALUE", $"v" < 0))
    val annotated = QualityGate.withReason(df, rules).collect()
    assert(annotated.count(_.isNullAt(2)) == 2)
    val reasons = QualityGate.quarantine(df, rules)
      .select("reason_code").as[String].collect().sorted
    assert(reasons.toSeq == Seq("MISSING_ID", "NEG_VALUE"))
    assert(QualityGate.valid(df, rules).count() + QualityGate.quarantine(df, rules).count() == df.count())
    assert(!QualityGate.valid(df, rules).columns.contains("reason_code"))
  }

  test("scd2: versions, validity chain, current flag, row_hash normalization") {
    val df = Seq(
      ("S1", "2024-01-01 08:00:00", "BUS"),
      ("S1", "2024-01-01 12:00:00", "METRO"),  // same day: latest wins -> METRO
      ("S1", "2024-01-03 09:00:00", "METRO"),  // unchanged -> no new version
      ("S1", "2024-01-05 09:00:00", "bus  "),  // changed (hash normalized to BUS)
      ("S2", "2024-01-02 10:00:00", "ZP"))
      .toDF("stop", "s", "mode")
      .withColumn("ts", to_timestamp($"s")).withColumn("event_id", monotonically_increasing_id())
    val dim = Scd2.fromHistory(df, "stop", "ts", Seq("event_id"), Seq("mode"))
      .orderBy("stop", "valid_from").collect()
    assert(dim.length == 3)
    val v1 = dim(0) // S1 METRO 01-01 .. 01-04
    assert(v1.getAs[String]("mode") == "METRO")
    assert(v1.getAs[Date]("valid_from").toString == "2024-01-01")
    assert(v1.getAs[Date]("valid_to").toString == "2024-01-04")
    assert(!v1.getAs[Boolean]("is_current"))
    val v2 = dim(1) // S1 bus(raw preserved) current
    assert(v2.getAs[Date]("valid_from").toString == "2024-01-05")
    assert(v2.getAs[Boolean]("is_current") && v2.isNullAt(v2.fieldIndex("valid_to")))
    // row_hash = sha256 of UPPER(TRIM(attr)) — "bus  " hashes like "BUS"
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("BUS".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(v2.getAs[String]("row_hash") == expected)
    assert(dim(2).getAs[Boolean]("is_current")) // S2 single version
  }

  test("as-of join resolves the covering SCD2 version") {
    val dim = Seq(
      ("S1", "BUS", Date.valueOf("2024-01-01"), Option(Date.valueOf("2024-01-04")), false),
      ("S1", "METRO", Date.valueOf("2024-01-05"), Option.empty[Date], true))
      .toDF("stop", "mode", "valid_from", "valid_to", "is_current")
    val fact = Seq(
      (1L, "S1", Date.valueOf("2024-01-02")),
      (2L, "S1", Date.valueOf("2024-01-04")),
      (3L, "S1", Date.valueOf("2024-01-07")),
      (4L, "SX", Date.valueOf("2024-01-07")))  // unmatched key -> null mode
      .toDF("fid", "stop_code", "d")
    val got = AsOfJoin(fact, dim, "stop_code", "stop", col("d"))
      .select($"fid", $"mode").orderBy("fid").collect()
    assert(got.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("BUS")), (2L, Some("BUS")), (3L, Some("METRO")), (4L, None)))
  }

  test("as-of merge-scan fallback matches the interval join on contiguous chains") {
    val dim = Seq(
      ("S1", "BUS", Date.valueOf("2024-01-01"), Option(Date.valueOf("2024-01-04")), false),
      ("S1", "METRO", Date.valueOf("2024-01-05"), Option.empty[Date], true),
      ("S2", "ZP", Date.valueOf("2024-01-03"), Option.empty[Date], true))
      .toDF("stop", "mode", "valid_from", "valid_to", "is_current")
    val fact = Seq(
      (1L, "S1", Date.valueOf("2024-01-02")),
      (2L, "S1", Date.valueOf("2024-01-05")),
      (3L, "S2", Date.valueOf("2024-01-01")), // before first version -> null
      (4L, "SX", Date.valueOf("2024-01-07")))
      .toDF("fid", "stop_code", "d")
    // Compare the FULL payload — a per-column resolution would backfill
    // the current version's NULL valid_to from the older version, so
    // valid_to/is_current must be part of the contract check.
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"fid", $"mode", $"valid_from", $"valid_to", $"is_current")
        .orderBy("fid").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getDate(2)),
          Option(r.getDate(3)), if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toSeq
    val viaJoin = norm(AsOfJoin(fact, dim, "stop_code", "stop", col("d")))
    val viaScan = norm(AsOfJoin.mergeScan(fact, dim, "stop_code", "stop", col("d")))
    assert(viaScan == viaJoin)
    assert(viaScan(2)._2.isEmpty) // fid 3 uncovered
    // fid 2 resolves to the CURRENT version: open-ended valid_to stays null
    assert(viaScan(1)._2.contains("METRO") && viaScan(1)._4.isEmpty &&
      viaScan(1)._5.contains(true))
  }

  test("as-of nearest: closest snapshot either direction, backward ties, tolerance") {
    val dim = Seq(
      ("S1", "A", Date.valueOf("2024-01-01")),
      ("S1", "B", Date.valueOf("2024-01-11")),
      ("S2", "Z", Date.valueOf("2024-03-01")))
      .toDF("stop", "mode", "valid_from")
    val fact = Seq(
      (1L, "S1", Date.valueOf("2024-01-03")),  // A(2) vs B(8)  -> A backward
      (2L, "S1", Date.valueOf("2024-01-09")),  // A(8) vs B(2)  -> B forward
      (3L, "S1", Date.valueOf("2024-01-06")),  // A(5) vs B(5)  -> tie: A backward
      (4L, "S1", Date.valueOf("2024-01-11")),  // B(0)          -> B backward
      (5L, "S2", Date.valueOf("2024-01-01")),  // Z is 60d away -> out of tolerance
      (6L, "SX", Date.valueOf("2024-01-01")))  // no key        -> null
      .toDF("fid", "stop_code", "d")
    val got = AsOfJoin.nearest(fact, dim, "stop_code", "stop", col("d"),
        "valid_from", toleranceDays = Some(30))
      .select($"fid", $"mode", $"asof_dist_days", $"asof_dir")
      .orderBy("fid").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), Option(r.getString(3)))).toSeq
    assert(got == Seq(
      (1L, Some("A"), Some(2), Some("backward")),
      (2L, Some("B"), Some(2), Some("forward")),
      (3L, Some("A"), Some(5), Some("backward")),
      (4L, Some("B"), Some(0), Some("backward")),
      (5L, None, None, None),
      (6L, None, None, None)))
  }

  test("rangeJoin: bucketized result equals the brute-force theta join") {
    // deterministic pseudo-random points + intervals spanning several
    // bucket widths, including empty, inverted and boundary cases
    val pts = (0 until 200)
      .map(i => (i.toLong, (i * 37 % 500).toLong)).toDF("pid", "p")
    val ivs = (0 until 80).map { i =>
      val lo = (i * 61 % 450).toLong
      (i.toLong, lo, lo + (i * 13 % 120).toLong - 5) // some inverted (hi<lo)
    }.toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "p", ivs, "lo", "hi", bucketWidth = 16)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(ivs)
      .filter($"lo" <= $"p" && $"p" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute && got.nonEmpty)
    // inclusivity at both ends, exactly at bucket boundaries
    val one = RangeJoin.pointInInterval(
      Seq((1L, 16L), (2L, 31L), (3L, 32L)).toDF("pid", "p"), "p",
      Seq((9L, 16L, 31L)).toDF("iid", "lo", "hi"), "lo", "hi", 16)
    assert(one.select("pid").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("grainViolations: clean grain empty, planted duplicate flagged with count") {
    val clean = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "g", "v")
    assert(Audit.grainViolations(clean, Seq("k", "g")).count() == 0L)
    val dup = clean.unionAll(Seq((2L, "B", 99.0), (2L, "B", 98.0)).toDF("k", "g", "v"))
    val got = Audit.grainViolations(dup, Seq("k", "g")).collect()
    assert(got.length == 1)
    assert((got.head.getLong(0), got.head.getString(1), got.head.getLong(2)) ==
      (2L, "B", 3L))
  }

  test("fdCheck: holding FD scores zero; violations counted with the worst key") {
    val holds = Seq((1L, "X", 1), (1L, "X", 2), (2L, "Y", 3)).toDF("k", "dep", "junk")
    val ok = Audit.fdCheck(holds, "k", "dep").collect()(0)
    assert(ok.getAs[Long]("n_keys") == 2L)
    assert(ok.getAs[Long]("n_violating_keys") == 0L)
    assert(ok.getAs[Double]("violation_share") == 0.0)
    // key 2 maps to Y and NULL (null IS a distinct dependent value);
    // key 3 maps to three values -> the worst offender
    val viol = Seq((1L, "X"), (2L, "Y"), (2L, null), (3L, "A"), (3L, "B"), (3L, "C"))
      .toDF("k", "dep")
    val got = Audit.fdCheck(viol, "k", "dep").collect()(0)
    assert(got.getAs[Long]("n_keys") == 3L)
    assert(got.getAs[Long]("n_violating_keys") == 2L)
    assert(got.getAs[Double]("violation_share") == 2.0 / 3.0)
    assert(got.getAs[Long]("max_distinct_dependents") == 3L)
    assert(got.getAs[String]("worst_key") == "3")
    // NULL determinants carry no key: excluded entirely
    val withNullKey = viol.unionAll(Seq((null.asInstanceOf[java.lang.Long], "Z"))
      .map(t => (t._1: java.lang.Long, t._2)).toDF("k", "dep"))
    assert(Audit.fdCheck(withNullKey, "k", "dep").collect()(0)
      .getAs[Long]("n_keys") == 3L)
  }

  test("fdDiscovery: the key direction holds, the reverse quantifies its violations") {
    // id -> code holds (id is a key); code -> id violated by code X
    // (two ids); id <-> grp: id->grp holds, grp->id violated by both
    val df = Seq((1L, "X", "g1"), (2L, "X", "g1"), (3L, "Y", "g2"))
      .toDF("id", "code", "grp")
    val got = Audit.fdDiscovery(df, Seq("id", "code", "grp"))
      .collect().map(r => (r.getAs[String]("determinant"),
        r.getAs[String]("dependent")) -> r).toMap
    assert(got.size == 6)
    assert(got(("id", "code")).getAs[Boolean]("fd_holds"))
    assert(got(("id", "grp")).getAs[Boolean]("fd_holds"))
    val rev = got(("code", "id"))
    assert(!rev.getAs[Boolean]("fd_holds"))
    assert(rev.getAs[Long]("n_keys") == 2L)
    assert(rev.getAs[Long]("n_violating_keys") == 1L) // only X fans out
    assert(rev.getAs[Double]("violation_share") == 0.5)
    // code <-> grp is 1:1 here: BOTH directions hold
    assert(got(("code", "grp")).getAs[Boolean]("fd_holds"))
    assert(got(("grp", "code")).getAs[Boolean]("fd_holds"))
  }

  test("rangeJoin: an era-spanning interval fails loudly, not with a giant explode") {
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val bad = Seq((1L, 0L, 50_000_000L)).toDF("iid", "lo", "hi") // 50M buckets at width 1
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(pts, "p", bad, "lo", "hi", bucketWidth = 1).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("RangeJoin") && m.contains("bucketWidth")),
      msgs(e).mkString("; "))
  }

  test("intervalOverlap: equals brute force with each pair emitted exactly once") {
    val a = (0 until 60).map { i =>
      val lo = (i * 53 % 400).toLong
      (i.toLong, lo, lo + (i * 17 % 90).toLong)
    }.toDF("aid", "lo_a", "hi_a")
    val b = (0 until 60).map { i =>
      val lo = (i * 41 % 400).toLong
      (i.toLong, lo, lo + (i * 29 % 90).toLong)
    }.toDF("bid", "lo_b", "hi_b")
    val got = RangeJoin.intervalOverlap(a, "lo_a", "hi_a", b, "lo_b", "hi_b", 32)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = a.crossJoin(b)
      .filter($"lo_a" <= $"hi_b" && $"lo_b" <= $"hi_a")
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // set equality AND multiplicity: ownership emits one copy per pair
    assert(got.sorted.toSeq == brute.sorted.toSeq && got.nonEmpty)
    assert(got.length == got.distinct.length)
  }

  test("entropyProfile: constant column 0, uniform column ln k") {
    import graft.operators.Profiling
    val df = (0 until 64).map(i => ("K", s"v${i % 8}")).toDF("const_c", "uni_c")
    val got = Profiling.entropyProfile(df, Seq("const_c", "uni_c")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("const_c") == (64L, 1L, 0.0))
    val (n, k, h) = got("uni_c")
    assert(n == 64L && k == 8L)
    assert(math.abs(h - math.log(8.0)) < 1e-6) // 8 equal terms of (1/8)ln 8
  }

  test("survivalCurve: hand-checked hazards, at-risk suffix, final-day NULL") {
    def ts(d: String) = Timestamp.valueOf(s"$d 10:00:00")
    // churn days: u1,u2 -> Jan 1; u3 -> Jan 2; u4,u5,u6 -> Jan 3
    val ev = Seq(
      (1L, ts("2024-01-01"), 1L), (2L, ts("2024-01-01"), 2L),
      (3L, ts("2024-01-01"), 3L), (4L, ts("2024-01-02"), 3L),
      (5L, ts("2024-01-01"), 4L), (6L, ts("2024-01-03"), 4L),
      (7L, ts("2024-01-03"), 5L), (8L, ts("2024-01-03"), 6L))
      .toDF("event_id", "ts", "user_id")
    val got = AnalyticsPack.survivalCurve(ev).orderBy("last_day").collect()
    assert(got.map(_.getAs[Long]("n_churned")).toSeq == Seq(2L, 1L, 3L))
    assert(got.map(_.getAs[Long]("n_at_risk")).toSeq == Seq(6L, 4L, 3L))
    assert(got.map(_.getAs[Double]("hazard")).toSeq == Seq(2.0 / 6, 1.0 / 4, 1.0))
    // day-1 log-survival = quantized ln(2/3); day 2 adds ln(3/4); final NULL
    val q1 = math.floor(math.log(1 - 2.0 / 6) * 1e6) / 1e6
    val q2 = math.floor(math.log(1 - 1.0 / 4) * 1e6) / 1e6
    assert(got(0).getAs[Double]("log_survival") == q1)
    assert(got(1).getAs[Double]("log_survival") == q1 + q2)
    assert(got(2).isNullAt(got(2).fieldIndex("log_survival")))
    // Nelson–Aalen cumulative hazard: running Σ d/n on the 1e-6 grid,
    // FINITE on the final day where KM's log-survival is NULL
    def qh(h: Double) = math.floor(h * 1e6) / 1e6
    assert(got(0).getAs[Double]("cum_hazard") == qh(2.0 / 6))
    assert(got(1).getAs[Double]("cum_hazard") == qh(2.0 / 6) + qh(1.0 / 4))
    assert(got(2).getAs[Double]("cum_hazard")
      == qh(2.0 / 6) + qh(1.0 / 4) + qh(1.0))
  }

  test("row contract: normalize-then-validate, first-match reasons, cross rules") {
    val df = Seq(
      (Some(1L), "  click ", Some(10.0), Some("p")),  // valid, type normalized
      (None, "view", Some(5.0), Some("p")),           // MISSING_ID
      (Some(3L), "  ", Some(5.0), Some("p")),         // MISSING_TYPE (blank -> null)
      (Some(4L), "teleport", Some(5.0), Some("p")),   // BAD_TYPE (after normalize)
      (Some(5L), "view", Some(9999.0), Some("p")),    // BAD_RANGE_VALUE
      (Some(6L), "view", None, None),                 // EMPTY_PAYLOAD (cross)
      (Some(7L), "view", None, Some("p")))            // valid: one payload field
      .toDF("user_id", "event_type", "value", "props")
    val fields = Seq(
      RowContract.required("user_id", "MISSING_ID"),
      RowContract.upperEnum("event_type", Seq("CLICK", "VIEW"),
        badReason = "BAD_TYPE", missingReason = Some("MISSING_TYPE")),
      RowContract.optionalRange("value", 0, 450, "BAD_RANGE_VALUE"))
    val cross = Seq(RowContract.atLeastOneOf("EMPTY_PAYLOAD", Seq("value", "props")))
    val got = RowContract.annotate(df, fields, cross).collect()
    val reasons = got.map(r => Option(r.getAs[String]("reason_code")))
    assert(reasons.toSeq == Seq(None, Some("MISSING_ID"), Some("MISSING_TYPE"),
      Some("BAD_TYPE"), Some("BAD_RANGE_VALUE"), Some("EMPTY_PAYLOAD"), None))
    // normalization is applied in the OUTPUT (upper+trim, blank->null)
    assert(got(0).getAs[String]("event_type") == "CLICK")
    assert(got(2).isNullAt(got(2).fieldIndex("event_type")))
    // splits cover the frame; valid drops the reason column
    assert(RowContract.valid(df, fields, cross).count() +
      RowContract.quarantine(df, fields, cross).count() == df.count())
    assert(!RowContract.valid(df, fields, cross).columns.contains("reason_code"))
    // field order defines precedence: MISSING_ID wins over BAD_RANGE
    val both = Seq((Option.empty[Long], "view", Some(9999.0), Some("p")))
      .toDF("user_id", "event_type", "value", "props")
    assert(RowContract.annotate(both, fields, cross).head.getAs[String]("reason_code")
      == "MISSING_ID")
  }

  test("sampleGate: deterministic md5-rank sample, layout-stable, bounded verdict") {
    // 200 rows, ids 100..299; exactly the 40 with v < 0 are NEG
    val df = Seq.tabulate(200)(i =>
      (100L + i, if (i % 5 == 0) -1.0 else 1.0)).toDF("id", "v")
    val fields = Seq(RowContract.Field("v", RowContract.NoNorm,
      Seq("NEG" -> ((c: org.apache.spark.sql.Column) => c >= 0))))
    val gate = RowContract.sampleGate(df, fields, Seq.empty,
      keyCols = Seq("id"), n = 50, warnRate = 0.01, failRate = 0.50)
    val got = gate.collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(3))).toMap
    // the verdict is over EXACTLY the 50 lowest-md5 ids — replay it
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sampleIds = (0 until 200).map(i => 100L + i).sortBy(id => hex(id.toString)).take(50).toSet
    val expectNeg = sampleIds.count(id => (id - 100) % 5 == 0)
    assert(got("NEG")._1 == expectNeg && got("VALID")._1 == 50 - expectNeg)
    assert(got("NEG")._2 == "WARN") // 20%-ish rate: above warn, below 50% fail
    assert(got.values.map(_._1).sum == 50)
    // layout-independence: a different partitioning gives the identical gate
    val reGate = RowContract.sampleGate(df.repartition(7), fields, Seq.empty,
      Seq("id"), 50, 0.01, 0.50).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(reGate == got)
  }

  test("dedup latestByGrain keeps one deterministic row per grain") {
    val df = Seq(
      (1L, "a", Timestamp.valueOf("2024-01-01 10:00:00"), 10L),
      (1L, "a", Timestamp.valueOf("2024-01-01 11:00:00"), 11L),
      (1L, "a", Timestamp.valueOf("2024-01-01 11:00:00"), 12L), // ts tie -> higher id wins
      (2L, "a", Timestamp.valueOf("2024-01-01 09:00:00"), 13L))
      .toDF("uid", "etype", "ts", "event_id")
    val got = Dedup.latestByGrain(df, Seq("uid", "etype"), Seq("ts", "event_id"))
      .select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(12L, 13L))
  }

  test("replaceCut: delete-cut-then-insert, untouched cuts intact, idempotent") {
    val existing = Seq(
      ("c1", 1L, "old"), ("c1", 2L, "old"), ("c2", 3L, "old"), ("c3", 4L, "old"))
      .toDF("cut", "id", "src")
    val incoming = Seq(("c2", 30L, "new"), ("c2", 31L, "new"), ("c4", 40L, "new"))
      .toDF("cut", "id", "src")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val got = Merge.replaceCut(existing, incoming, "cut")
    assert(norm(got) == Set(
      ("c1", 1L, "old"), ("c1", 2L, "old"),           // untouched cut
      ("c2", 30L, "new"), ("c2", 31L, "new"),         // replaced wholesale (3L gone)
      ("c3", 4L, "old"),                              // untouched cut
      ("c4", 40L, "new")))                            // brand-new cut
    // idempotent: replaying the same batch changes nothing
    assert(norm(Merge.replaceCut(got, incoming, "cut")) == norm(got))
    // NULL cut keys replace null-safely (no duplicate beside the stale row)
    val nullExisting = Seq((Option.empty[String], 1L, "old"), (Some("c1"), 2L, "old"))
      .toDF("cut", "id", "src")
    val nullIncoming = Seq((Option.empty[String], 10L, "new")).toDF("cut", "id", "src")
    val gotNull = Merge.replaceCut(nullExisting, nullIncoming, "cut").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getString(2))).toSet
    assert(gotNull == Set((None, 10L, "new"), (Some("c1"), 2L, "old")))
  }

  test("dim_date covers full range with correct attributes") {
    val df = Seq("2023-12-30", "2024-01-02").toDF("d").withColumn("d", to_date($"d"))
    val dim = Dims.dimDate(df, $"d").orderBy("date_sk").collect()
    assert(dim.length == 4)
    assert(dim.head.getAs[Int]("date_sk") == 20231230)
    assert(dim.head.getAs[String]("tipo_dia") == "SABADO")
    assert(dim.head.getAs[Boolean]("is_weekend"))
    assert(dim.last.getAs[Int]("iso_dow") == 2) // 2024-01-02 Tuesday
    assert(dim.last.getAs[String]("year_month") == "2024-01")
  }

  test("dim_time_30m has 48 well-formed slots") {
    val rows = Dims.dimTime30m(spark).orderBy("time_30m_sk").collect()
    assert(rows.length == 48)
    assert(rows(0).getAs[String]("start_time") == "00:00:00")
    assert(rows(1).getAs[String]("start_time") == "00:30:00")
    assert(rows(47).getAs[String]("start_time") == "23:30:00")
    assert(rows(47).getAs[String]("end_time") == "00:00:00")
    assert(rows(33).getAs[Int]("hour") == 16 && rows(33).getAs[Int]("minute") == 30)
  }

  test("lookup dim assigns dense deterministic surrogate keys") {
    val df = Seq("B", "A", " A ", "C", "B").toDF("v")
    val dim = Dims.lookupDim(df, "v", "sk", "name").orderBy("sk").collect()
    assert(dim.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "A"), (2, "B"), (3, "C")))
  }

  test("salted latestByGrain equals the plain window on a hot-key distribution") {
    val rnd = new scala.util.Random(7)
    // one hot grain holding ~80% of rows plus a long tail
    val rows = Seq.tabulate(2000) { i =>
      val uid = if (rnd.nextInt(10) < 8) 1L else 1L + rnd.nextInt(50)
      (uid, s"t${rnd.nextInt(3)}", Timestamp.valueOf("2024-01-01 00:00:00"), i.toLong)
    }
    val df = rows.toDF("uid", "etype", "ts", "event_id")
      .withColumn("ts", $"ts" + expr("make_interval(0, 0, 0, 0, 0, 0, event_id)"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids(Dedup.latestByGrainSalted(df, Seq("uid", "etype"), Seq("ts", "event_id"))) ==
      ids(Dedup.latestByGrain(df, Seq("uid", "etype"), Seq("ts", "event_id"))))
  }

  test("excel day-fraction helpers: slot and HH:MM:00 conversion") {
    val r = Seq((0.0, 0.5, 0.999), (0.25, 0.75, 0.5)).toDF("a", "b", "c")
      .select(Temporal.excelFractionTo30mSk($"a").as("s0"),
        Temporal.excelFractionTo30mSk($"b").as("s1"),
        Temporal.excelFractionToTime($"b").as("t1"),
        Temporal.excelFractionToTime($"c").as("t2")).head()
    assert(r.getInt(0) == 0 && r.getInt(1) == 24)
    assert(r.getString(2) == "12:00:00" && r.getString(3) == "23:58:00")
  }

  test("exactByKey collapses duplicate content to one survivor + count") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "content")
    val got = Dedup.exactByKey(df, "content", "id")
      .orderBy("keep_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("threshold gate: OK / WARN / FAIL statuses from exact rates") {
    val df = Seq.tabulate(100)(i => (i.toLong, if (i < 5) -1.0 else 1.0))
      .toDF("id", "v")
    val rules = Seq(QualityGate.Rule("NEG", $"v" < 0))
    // 5% NEG: warn at 1%, fail at 10% -> WARN; fail at 2% -> FAIL
    val warn = QualityGate.thresholdGate(df, rules, warnRate = 0.01, failRate = 0.10)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(warn("NEG") == "WARN" && warn("VALID") == "OK")
    val fail = QualityGate.thresholdGate(df, rules, warnRate = 0.01, failRate = 0.02)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(fail("NEG") == "FAIL")
    // count assertion: the report partitions the input exactly
    val rep = QualityGate.report(df, rules).agg(sum("n_rows")).head().getLong(0)
    assert(rep == df.count())
  }

  test("merge appendNewGrains: existing wins, new grains append, idempotent") {
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v")
    val incoming = Seq((1L, "a", 99.0), (3L, "c", 30.0)).toDF("k", "g", "v")
    val merged = Merge.appendNewGrains(existing, incoming, Seq("k", "g"))
    val got = merged.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))) // 1 keeps old value
    // idempotent: merging the same incoming again changes nothing
    val again = Merge.appendNewGrains(merged, incoming, Seq("k", "g"))
    assert(again.count() == 3)
  }

  test("mergeAggregate: merged partials equal the full recompute, associatively") {
    import org.apache.spark.sql.types.DecimalType
    def pa(df: org.apache.spark.sql.DataFrame) = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v".cast(DecimalType(18, 2))).as("s"))
    // widened decimal precision after a merge would break the set
    // compare — normalize through double for the equality check
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"n", $"s".cast("double").as("s")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("A", 4.0), ("C", 5.0)).toDF("k", "v")
    val p1 = pa(full.filter($"v" <= 2.0))
    val p2 = pa(full.filter($"v" === 3.0 || $"v" === 4.0))
    val p3 = pa(full.filter($"v" === 5.0))
    // (p1 + p2) + p3 — associativity is the whole contract
    val merged = Merge.mergeAggregate(
      Merge.mergeAggregate(p1, p2, Seq("k")), p3, Seq("k"))
    assert(norm(merged) == norm(pa(full)))
    assert(norm(merged) == Set(("A", 3L, 7.0), ("B", 1L, 3.0), ("C", 1L, 5.0)))
  }

  test("driver contract: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("saltedJoin equals the plain join under a forced shuffle and spreads the key") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // one hot key (90% of rows) + a tail
      val fact = ((1 to 90).map(i => (7L, i.toLong)) ++ (1 to 10).map(i => (i.toLong, 100L + i)))
        .toDF("k", "payload")
      val dim = Seq((7L, "hot"), (3L, "cold"), (99L, "unmatched")).toDF("k", "attr")
      val salted = Prejoin.saltedJoin(fact, dim, Seq("k"), "payload", saltN = 4)
      val plain = fact.join(dim, Seq("k"))
      assert(salted.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq ==
        plain.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq)
      // the join's exchange hashes on (k, salt): the hot key spreads
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_salt"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
