package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.{CsvVarchar, MedallionCatalog, MedallionSink}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv all-varchar source: explicit columns, string types, null handling") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("part.csv")
    Files.writeString(f, "1|alpha|2.5\n2||x\n3|gamma|\n")
    val df = CsvVarchar.read(spark, f.toString, Seq("id", "name", "score"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(1)) // empty string -> NULL
    assert(rows(2).isNullAt(2))
    assert(rows(0).getString(1) == "alpha" && rows(0).getString(2) == "2.5")
  }

  test("compaction: many small files become one per partition dir, data + sidecars intact") {
    val root = Files.createTempDirectory("graft_compact").toString
    val df = (1 to 200).map(i => (i.toLong, 2024, 1 + i % 2, s"p$i"))
      .toDF("id", "year", "month", "payload")
    // high write parallelism -> many small files per partition dir
    MedallionSink.write(df.repartition(8), root, "ev", Seq("year", "month"))
    val beforeRows = spark.read.parquet(s"$root/dataset=ev")
      .select("id").collect().map(_.getLong(0)).sorted
    val (before, after) = MedallionSink.compact(spark, root, "ev", Seq("year", "month"))
    assert(before > 2, s"setup produced only $before files")
    assert(after == 2, s"expected one file per partition dir, got $after") // 2 months
    val afterRows = spark.read.parquet(s"$root/dataset=ev")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(afterRows.sameElements(beforeRows))
    // sidecars refreshed: the catalog's row-count load gate still passes,
    // and the dataset's quality sidecar survived the swap
    MedallionCatalog.validateOrThrow(spark, root, "ev", Seq("year", "month"))
    assert(Files.exists(Paths.get(root, "dataset=ev", "_quality.json")))
  }

  test("compaction preserves stream-sink sidecars (_graft_obs dir, _graft_commit.json)") {
    val root = Files.createTempDirectory("graft_compact3").toString
    val df = (1 to 50).map(i => (i.toLong, 1 + i % 2, s"p$i"))
      .toDF("id", "month", "payload")
    MedallionSink.write(df.repartition(6), root, "ev", Seq("month"))
    val target = s"$root/dataset=ev"
    // simulate a stream-maintained target: batch-id commit marker +
    // per-key observed-day watermark dir — both load-bearing state a
    // compaction must carry through its rebuild-into-tmp swap
    Files.writeString(Paths.get(target, "_graft_commit.json"),
      """{"batch_id": 7, "query_id": "q-test"}""")
    Seq((1L, java.sql.Date.valueOf("2024-01-03")))
      .toDF("user_id", "max_obs_day")
      .write.parquet(s"$target/_graft_obs")
    MedallionSink.compact(spark, root, "ev", Seq("month"))
    assert(Files.readString(Paths.get(target, "_graft_commit.json"))
      == """{"batch_id": 7, "query_id": "q-test"}""",
      "compaction dropped or altered the batch-id commit marker")
    val obs = spark.read.parquet(s"$target/_graft_obs").collect()
    assert(obs.length == 1 && obs(0).getLong(0) == 1L,
      "compaction dropped the SCD2 observed-day watermark sidecar")
    assert(spark.read.parquet(target).count() == 50)
  }

  test("compaction round-trips numeric-looking string partition values verbatim") {
    val root = Files.createTempDirectory("graft_compact2").toString
    // month "01": with partition type inference a compactor would
    // silently rewrite the dir as month=1 with an int column
    val df = Seq((1L, "01", "a"), (2L, "01", "b"), (3L, "11", "c"))
      .toDF("id", "month", "payload")
    MedallionSink.write(df.repartition(4), root, "s", Seq("month"))
    assert(Files.exists(Paths.get(root, "dataset=s", "month=01")))
    // the write path itself must not plant a phantom coerced dir: the
    // sidecar read-back regenerates dir names from partition values
    assert(!Files.exists(Paths.get(root, "dataset=s", "month=1")),
      "sidecar writer created a phantom month=1 directory")
    MedallionSink.compact(spark, root, "s", Seq("month"))
    assert(Files.exists(Paths.get(root, "dataset=s", "month=01")),
      "compaction must not rewrite month=01 as month=1")
    assert(!Files.exists(Paths.get(root, "dataset=s", "month=1")))
    assert(Files.exists(Paths.get(root, "dataset=s", "month=01", "_meta.json")))
    MedallionCatalog.validateOrThrow(spark, root, "s", Seq("month"))
  }

  test("medallion sink: partitioned zstd layout + atomic quality sidecar") {
    // a bare local path and a Hadoop-qualified `file://` root (the form
    // any hdfs:// root takes) must land the same layout and sidecar
    val bare = Files.createTempDirectory("graft_lake").toString
    val qualified = Files.createTempDirectory("graft_lake_q").toString
    for ((root, local) <- Seq(bare -> bare, s"file://$qualified" -> qualified)) {
      val df = Seq(
        (1L, 2024, 1, "a"), (2L, 2024, 1, "b"), (3L, 2024, 2, "c"))
        .toDF("id", "year", "month", "payload")
      val rows = MedallionSink.write(df, root, "events_t", Seq("year", "month"),
        extraStats = Map("n_quarantined" -> 0L))
      assert(rows == 3)
      assert(Files.exists(Paths.get(local, "dataset=events_t", "year=2024", "month=1")))
      assert(Files.exists(Paths.get(local, "dataset=events_t", "year=2024", "month=2")))
      val back = spark.read.parquet(s"$root/dataset=events_t")
      assert(back.count() == 3)
      assert(back.select("year").distinct().as[Int].collect().toSet == Set(2024))
      val quality = Files.readString(Paths.get(local, "dataset=events_t", "_quality.json"))
      assert(quality ==
        """{"dataset": "events_t", "rows_written": 3, "n_quarantined": 0}""", root)
      // published in place: no tmp file and no checksum twin left behind
      assert(Files.list(Paths.get(local)).toArray.map(_.toString)
        .filter(_.contains("quality")).isEmpty, root)
      assert(Files.list(Paths.get(local, "dataset=events_t")).toArray
        .map(_.toString.split('/').last).filter(_.contains("quality")).toSeq ==
        Seq("_quality.json"), root)
    }
  }

  test("meta sidecars land for a multi-hundred-partition write (executor-side I/O)") {
    val root = Files.createTempDirectory("graft_many_parts").toString
    // 300 partition dirs — enough that a driver-sequential sidecar
    // loop is the thing being exercised; the writes run distributed
    // (foreachPartition over the per-partition counts)
    val df = spark.range(300).selectExpr("id", "cast(id as string) AS p", "id * 2 AS v")
    MedallionSink.write(df, root, "wide", Seq("p"))
    val dirs = new java.io.File(s"$root/dataset=wide").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
    assert(dirs.length == 300)
    assert(dirs.forall(d => new java.io.File(d, "_meta.json").exists()),
      "every partition dir must carry its _meta.json sidecar")
    val one = Files.readString(Paths.get(root, "dataset=wide", "p=7", "_meta.json"))
    assert(one.contains("\"row_count\": 1"))
    MedallionCatalog.validateOrThrow(spark, root, "wide", Seq("p"))
  }

  test("catalog read-side: discovery, meta sidecars, row-count validation round-trip") {
    val root = Files.createTempDirectory("graft_cat").toString
    val df = Seq(
      (1L, 2024, 1, "a"), (2L, 2024, 1, "b"), (3L, 2024, 2, "c"), (4L, 2023, 12, "d"))
      .toDF("id", "year", "month", "payload")
    MedallionSink.write(df, root, "trips", Seq("year", "month"))
    // discovery finds every leaf partition with its sidecar
    val parts = MedallionCatalog.partitions(spark, root, "trips")
    assert(parts.length == 3)
    assert(parts.map(_.values).toSet == Set(
      Map("year" -> "2024", "month" -> "1"),
      Map("year" -> "2024", "month" -> "2"),
      Map("year" -> "2023", "month" -> "12")))
    assert(parts.forall(_.metaColumns == Seq("id", "payload")))
    assert(parts.find(_.values("month") == "1").get.metaRowCount.contains(2L))
    // validation: every sidecar matches the parquet row counts
    val v = MedallionCatalog.validate(spark, root, "trips", Seq("year", "month"))
    assert(v.count() == 3 && v.filter($"row_count_ok" === true).count() == 3)
    MedallionCatalog.validateOrThrow(spark, root, "trips", Seq("year", "month"))
    // corrupt one sidecar -> that partition fails, validateOrThrow refuses
    val metaPath = Paths.get(root, "dataset=trips", "year=2024", "month=2", "_meta.json")
    Files.writeString(metaPath, """{"row_count": 99, "columns": ["id", "payload"]}""")
    val v2 = MedallionCatalog.validate(spark, root, "trips", Seq("year", "month"))
    assert(v2.filter($"row_count_ok" === false).count() == 1)
    intercept[IllegalArgumentException] {
      MedallionCatalog.validateOrThrow(spark, root, "trips", Seq("year", "month"))
    }
    // sidecar-less partition: unknown (NULL), not failed
    Files.delete(metaPath)
    val v3 = MedallionCatalog.validate(spark, root, "trips", Seq("year", "month"))
    assert(v3.filter($"row_count_ok".isNull).count() == 1)
    MedallionCatalog.validateOrThrow(spark, root, "trips", Seq("year", "month"))
    // read side prunes partitions like any parquet partition filter
    assert(MedallionCatalog.read(spark, root, "trips")
      .filter($"year" === 2024 && $"month" === 1).count() == 2)
    // a sidecar without row_count is UNKNOWN (null), never a mismatch
    Files.writeString(metaPath, """{"columns": ["id", "payload"]}""")
    val v4 = MedallionCatalog.validate(spark, root, "trips", Seq("year", "month"))
    assert(v4.filter($"row_count_ok".isNull).count() == 1)
    MedallionCatalog.validateOrThrow(spark, root, "trips", Seq("year", "month"))
  }

  test("sidecars follow Spark's partition-path escaping for null values") {
    val root = Files.createTempDirectory("graft_nullpart").toString
    val df = Seq((1L, Some("c1"), "a"), (2L, Option.empty[String], "b"))
      .toDF("id", "cut", "payload")
    MedallionSink.write(df, root, "np", Seq("cut"))
    // the null-partition sidecar lands NEXT TO the data Spark wrote
    assert(Files.exists(Paths.get(root, "dataset=np",
      "cut=__HIVE_DEFAULT_PARTITION__", "_meta.json")))
    assert(!Files.exists(Paths.get(root, "dataset=np", "cut=null")))
    val v = MedallionCatalog.validate(spark, root, "np", Seq("cut"))
    assert(v.filter($"row_count_ok" === true).count() == 2)
  }

  test("overwritePartitions rewrites only the incoming cut directories") {
    val root = Files.createTempDirectory("graft_cut").toString
    val df = Seq((1L, "c1", "old"), (2L, "c1", "old"), (3L, "c2", "old"))
      .toDF("id", "cut", "src")
    MedallionSink.write(df, root, "fct", Seq("cut"))
    val c1Before = Files.list(Paths.get(root, "dataset=fct", "cut=c1"))
      .filter(p => p.toString.endsWith(".parquet")).toArray.toSeq
    // replace cut c2 only
    val batch = Seq((30L, "c2", "new"), (31L, "c2", "new")).toDF("id", "cut", "src")
    MedallionSink.overwritePartitions(batch, root, "fct", Seq("cut"))
    val back = spark.read.parquet(s"$root/dataset=fct")
    assert(back.filter($"cut" === "c1").select("src").as[String].collect().toSet == Set("old"))
    assert(back.filter($"cut" === "c2").select("id").as[Long].collect().toSet == Set(30L, 31L))
    // c1's physical files are byte-identical (never rewritten)
    val c1After = Files.list(Paths.get(root, "dataset=fct", "cut=c1"))
      .filter(p => p.toString.endsWith(".parquet")).toArray.toSeq
    assert(c1After == c1Before)
    // the replaced cut's sidecar reflects the new authoritative count
    val v = MedallionCatalog.validate(spark, root, "fct", Seq("cut"))
    assert(v.filter($"row_count_ok" === true).count() == 2)
  }

  test("bronze -> silver chain: csv varchar source + try_cast coercion") {
    val dir = Files.createTempDirectory("graft_bronze")
    val f = dir.resolve("feed.csv")
    Files.writeString(f,
      "1|2024-01-05 10:30:00|12.5|yes\n" +
        "2|not-a-date|oops|true\n" +
        "3|2024-01-06 00:00:00||false\n")
    val bronze = CsvVarchar.read(spark, f.toString,
      Seq("id", "event_ts", "amount", "flag"))
    val silver = graft.operators.TypedCoerce(bronze, Seq(
      "id" -> "BIGINT", "event_ts" -> "TIMESTAMP",
      "amount" -> "DOUBLE", "flag" -> "BOOLEAN"))
    assert(silver.schema.map(_.dataType.typeName) ==
      Seq("long", "timestamp", "double", "boolean"))
    val rows = silver.orderBy("id").collect()
    assert(rows(0).getDouble(2) == 12.5 && !rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2)) // junk -> NULL, no failure
    assert(rows(1).getBoolean(3))
    assert(rows(2).isNullAt(2) && !rows(2).getBoolean(3))
  }

  test("inferTypes: lexical classes, the 99% ladder, junk tolerance") {
    import spark.implicits._
    val bronze = Seq(
      ("1", "12.50", "2024-01-05", "2024-01-05 10:30:00", "true", "hello"),
      ("2", "7", "2024-01-06", "2024-01-06 11:00:00", "false", "world"),
      ("3", "-3.25", "2024-01-07", "2024-01-07 12:00:00", "True", ""))
      .toDF("id", "amt", "d", "ts", "flag", "txt")
    val got = graft.operators.TypedCoerce.inferTypes(bronze,
        Seq("id", "amt", "d", "ts", "flag", "txt"))
      .collect().map(r => r.getAs[String]("column_name") ->
        r.getAs[String]("suggested_type")).toMap
    assert(got == Map("id" -> "BIGINT", "amt" -> "DOUBLE", "d" -> "DATE",
      "ts" -> "TIMESTAMP", "flag" -> "BOOLEAN", "txt" -> "VARCHAR"))
    // integers are doubles too, but the ladder prefers the narrower type;
    // an empty string is not a value (txt has 2 non-null values, both words)
    // 99% threshold: 1 junk row in 300 does not demote the column
    val mostlyInts = ((1 to 299).map(i => i.toString) :+ "junk").toDF("v")
    val inferred = graft.operators.TypedCoerce.inferTypes(mostlyInts, Seq("v"))
      .collect()(0)
    assert(inferred.getAs[String]("suggested_type") == "BIGINT")
    assert(inferred.getAs[Long]("n_long") == 299L)
    // but 2 junk in 100 does (98% < 99%)
    val dirty = ((1 to 98).map(_.toString) ++ Seq("a", "b")).toDF("v")
    assert(graft.operators.TypedCoerce.inferTypes(dirty, Seq("v"))
      .collect()(0).getAs[String]("suggested_type") == "VARCHAR")
  }

  test("schemaDrift: added/dropped/type-changed verdicts and null-rate drift") {
    import spark.implicits._
    val oldB = Seq(("1", "5", "x"), ("2", "7", "y"))
      .toDF("id", "amt", "gone")
    val newB = Seq(("1", "5.5", "a", "t1"), ("2", "7.25", null, "t2"),
      ("3", "9.75", null, "t3")).toDF("id", "amt", "tag", "extra")
    val got = graft.operators.TypedCoerce.schemaDrift(oldB, newB,
        Seq("id", "amt", "gone"), Seq("id", "amt", "tag", "extra"))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(got("id").getAs[String]("change") == "UNCHANGED")
    assert(got("amt").getAs[String]("change") == "TYPE_CHANGED")
    assert(got("amt").getAs[String]("old_type") == "BIGINT")
    assert(got("amt").getAs[String]("new_type") == "DOUBLE")
    assert(got("gone").getAs[String]("change") == "DROPPED")
    assert(got("extra").getAs[String]("change") == "ADDED")
    // same type, but the producer started shipping NULLs: 0 -> 2/3
    assert(got("tag").getAs[String]("change") == "ADDED") // absent before
    assert(math.abs(got("tag").getAs[Double]("new_null_rate") - 2.0 / 3) < 1e-12)
    assert(got("id").getAs[Double]("old_null_rate") == 0.0)
    // an ADDED column has NULL old-side fields, not fabricated zeros
    assert(got("extra").isNullAt(got("extra").fieldIndex("old_type")))
  }

  test("medallion layout prunes partitions: a month filter scans only its directory") {
    val root = Files.createTempDirectory("graft_prune").toString
    val df = Seq.tabulate(100)(i => (i.toLong, 2024, 1 + i % 4, s"p$i"))
      .toDF("id", "year", "month", "payload")
    MedallionSink.write(df, root, "ev", Seq("year", "month"))
    val pruned = spark.read.parquet(s"$root/dataset=ev").filter($"month" === 2)
    assert(pruned.count() == 25)
    val planStr = pruned.queryExecution.executedPlan.toString
    // partition filter on month, and no pushed data filter needed for it
    assert(planStr.contains("PartitionFilters") &&
      planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("month"))
  }

  test("events ts truncation agrees with the oracle: non-negative nanos") {
    // When the lake ships ts as TIMESTAMP(NANOS) (read as long nanos),
    // both sides truncate sub-microsecond precision away: Tables with
    // `ts div 1000`, DuckDB by reading nanos parquet as microsecond
    // TIMESTAMP. The two truncations agree exactly when epochs are
    // non-negative (toward-zero == floor there); a pre-1970 timestamp
    // would split them one microsecond apart and silently hash-diverge
    // every ts-bearing oracle row — pin the precondition. A data drop
    // with native TIMESTAMP(MICROS) ts has nothing to truncate on
    // either side; the precondition is vacuously met (and the Tables
    // pass-through path is what every other events spec exercises).
    val raw = spark.read.parquet(s"$sf/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(raw.filter(expr("ts < 0")).count() == 0L,
        "pre-1970 nanos: div-1000 (toward zero) no longer matches DuckDB's floor")
    else
      assert(raw.filter(col("ts") < lit("1970-01-01").cast("timestamp")).count() == 0L,
        "pre-1970 ts: nanos-era truncation-agreement reasoning would not port")
  }

  test("parquet scans push filters and prune columns") {
    val df = Tables(spark, sf, "lineitem")
      .filter($"l_orderkey" === 42L)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("l_orderkey"), s"filter not pushed:\n$plan")
    val readSchema = plan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity") &&
      !readSchema.contains("l_comment"), s"columns not pruned: $readSchema")
  }

  test("multimodal: stub decode over binary columns, batched per partition") {
    val media = Seq(
      Multimodal.MediaRow(1L, Array[Byte](3, 4, 100), "img"),
      Multimodal.MediaRow(2L, Array[Byte](), "img"),
      Multimodal.MediaRow(3L, "hello".getBytes("UTF-8"), "txt"))
      .toDS().repartition(2)
    val got = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(got(1L).width == 4 && got(1L).height == 5 && got(1L).n_bytes == 3)
    assert(got(2L).n_bytes == 0 && got(2L).brightness == 0.0)
    val crc = new java.util.zip.CRC32(); crc.update("hello".getBytes("UTF-8"))
    assert(got(3L).checksum == crc.getValue)
    assert(got(3L).brightness == "hello".getBytes("UTF-8").map(_ & 0xff).sum.toDouble / 5)
  }

  test("multimodal: real javax.imageio decode for PNG/BMP, stub fallback for the rest") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def imageBytes(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(im, fmt, out))
      out.toByteArray
    }
    val media = spark.createDataset(Seq(
      // 7x5 pure white PNG, 4x6 mid-gray BMP, corrupt PNG, non-JDK format
      Multimodal.MediaRow(1L, imageBytes("png", 7, 5, 0xffffff), "png"),
      Multimodal.MediaRow(2L, imageBytes("bmp", 4, 6, 0x808080), "bmp"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "png"),
      Multimodal.MediaRow(4L, Array[Byte](3, 4, 100), "mp4")))
    val got = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    // true pixel dimensions and brightness from the real decode
    assert(got(1L).width == 7 && got(1L).height == 5 && got(1L).brightness == 255.0)
    assert(got(2L).width == 4 && got(2L).height == 6 && got(2L).brightness == 128.0)
    // corrupt image falls back to the stub header parse, never throws
    assert(got(3L).width == 10 && got(3L).height == 10)
    // non-JDK format takes the stub path
    assert(got(4L).width == 4 && got(4L).height == 5)
  }

  test("multimodal: colorStats — exact per-channel means + contrast from real decode") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // 4x2: top row pure white, bottom row pure black → R/G/B means
    // all 127.5, luma values {765, 0} → std 382.5, /3 = 127.5; and a
    // half-red / half-green image → channel means split, zero
    // contrast (equal luma everywhere)
    def bytesOf(im: BufferedImage): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(im, "png", out))
      out.toByteArray
    }
    val bw = new BufferedImage(4, 2, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4) { bw.setRGB(x, 0, 0xffffff); bw.setRGB(x, 1, 0x000000) }
    val rg = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    rg.setRGB(0, 0, 0xff0000); rg.setRGB(0, 1, 0xff0000)
    rg.setRGB(1, 0, 0x00ff00); rg.setRGB(1, 1, 0x00ff00)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, bytesOf(bw), "png"),
      Multimodal.MediaRow(2L, bytesOf(rg), "png"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "png")))  // corrupt → dropped
    val got = Multimodal.colorStats(media).collect().map(c => c.media_id -> c).toMap
    assert(got.size == 2) // the corrupt asset is dropped, not stubbed
    assert(got(1L).width == 4 && got(1L).height == 2)
    assert(got(1L).mean_r == 127.5 && got(1L).mean_g == 127.5 && got(1L).mean_b == 127.5)
    assert(got(1L).std_luma == 127.5)
    assert(got(2L).mean_r == 127.5 && got(2L).mean_g == 127.5 && got(2L).mean_b == 0.0)
    assert(got(2L).std_luma == 0.0)
  }

  test("multimodal: real javax.sound WAV decode — rate, duration, amplitude") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 1 second of 8 kHz mono 16-bit PCM at constant amplitude 8192
    // (|8192|/32768 = 0.25), little-endian
    val pcm = new Array[Byte](8000 * 2)
    var i = 0
    while (i < 8000) { pcm(2 * i) = 0; pcm(2 * i + 1) = 0x20; i += 1 }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, 8000),
      AudioFileFormat.Type.WAVE, out)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, out.toByteArray, "wav"),
      Multimodal.MediaRow(2L, Array[Byte](9, 9, 9), "wav"),   // corrupt -> stub
      Multimodal.MediaRow(3L, out.toByteArray, "ogg")))       // non-JDK -> stub
    val got = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(got(1L).sample_rate == 8000 && got(1L).duration_ms == 1000L)
    assert(math.abs(got(1L).brightness - 0.25) < 1e-9,
      s"mean |amplitude| was ${got(1L).brightness}")
    assert(got(1L).width == 0 && got(1L).height == 0)
    // corrupt body and non-JDK container both take the stub, never throw
    assert(got(2L).sample_rate == 0 && got(2L).width == 10)
    assert(got(3L).sample_rate == 0 && got(3L).duration_ms == 0L)
  }

  test("multimodal: real MJPEG-AVI demux + per-frame decode, corrupt falls to stub") {
    // 3 real JPEG frames with distinct brightness levels wrapped in a
    // real AVI container (40 ms/frame)
    def frame(level: Double) = Multimodal.grayJpeg8x8(Seq.fill(64)(level))
    val avi = Multimodal.mjpegAvi(
      Seq(frame(-1.0), frame(0.0), frame(1.0)), microSecPerFrame = 40000)
    val (frames, micro) = Multimodal.aviDemux(avi)
    assert(frames.length == 3 && micro == 40000L)
    // each demuxed payload is a REAL decodable JPEG
    val ims = frames.map(f =>
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f._3)))
    assert(ims.forall(im => im != null && im.getWidth == 8 && im.getHeight == 8))
    // decode(): width/height from the first frame, duration from avih
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, avi, "avi"),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3, 4), "avi")))  // corrupt -> stub
    val got = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(got(1L).width == 8 && got(1L).height == 8)
    assert(got(1L).duration_ms == 120L) // 3 frames x 40 ms
    assert(got(1L).brightness > 0.0)
    assert(got(2L).width == 2 && got(2L).duration_ms == 0L) // stub: b(0)+1
    // per-frame features: real frame indices, real per-frame decode,
    // brightness strictly increasing across the three planted levels
    val ff = Multimodal.videoFrameFeatures(
      spark.createDataset(Seq(Multimodal.MediaRow(1L, avi, "avi"))), k = 3)
      .collect().sortBy(_.frame_ix)
    assert(ff.map(_.frame_ix).toSeq == Seq(0, 1, 2))
    assert(ff.forall(f => f.n_frames == 3 && f.width == 8 && f.height == 8))
    assert(ff(0).brightness < ff(1).brightness && ff(1).brightness < ff(2).brightness)
    // a writer round-trip with ODD-sized frames exercises the RIFF
    // even-padding rule (JPEG sizes are arbitrary)
    val avi2 = Multimodal.mjpegAvi(Seq(Array[Byte](0x11), frame(0.5)))
    assert(Multimodal.aviDemux(avi2)._1.length == 2)
  }

  test("multimodal featuresOf survives > one batch per partition") {
    val big = (1L to 200L).map(i => (i, s"payload_$i".getBytes("UTF-8"), "txt"))
      .toDF("media_id", "media", "format")
    assert(Multimodal.featuresOf(big).count() == 200)
  }

  test("resizeImages: real bilinear downscale to the bounding box, pass-through otherwise") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def imageBytes(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(im, fmt, out))
      out.toByteArray
    }
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, imageBytes("png", 100, 40, 0x4080c0), "png"),
      Multimodal.MediaRow(2L, imageBytes("png", 8, 8, 0xffffff), "png"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "png")))
    val got = Multimodal.resizeImages(media, maxDim = 50).collect()
      .map(r => r.media_id -> r).toMap
    // 100x40 -> 50x20; the output is a REAL decodable PNG of that size
    assert(got(1L).orig_width == 100 && got(1L).width == 50 && got(1L).height == 20)
    val re = ImageIO.read(new java.io.ByteArrayInputStream(got(1L).media))
    assert(re.getWidth == 50 && re.getHeight == 20)
    // solid-color image stays that color after bilinear scaling
    assert((re.getRGB(25, 10) & 0xffffff) == 0x4080c0)
    // already-small: byte-identical pass-through, never upscaled
    assert(got(2L).width == 8 && got(2L).media.sameElements(imageBytes("png", 8, 8, 0xffffff)))
    // undecodable: bytes pass through, dims zeroed
    assert(got(3L).width == 0 && got(3L).media.length == 3)
  }

  test("aHash: near-identical images pair within a few bits, distinct ones do not") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def gradient(w: Int, h: Int, tweak: Boolean): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / math.max(1, w - 1)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (tweak) im.setRGB(0, 0, 0x111111) // one-pixel jitter
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(im, "png", out))
      out.toByteArray
    }
    def inverse(w: Int, h: Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = 255 - (x * 255) / math.max(1, w - 1)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(im, "png", out))
      out.toByteArray
    }
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, gradient(64, 64, tweak = false), "png"),
      Multimodal.MediaRow(2L, gradient(64, 64, tweak = true), "png"),
      // same gradient at a DIFFERENT size: box-average makes the hash
      // scale-invariant — the crop/re-encode robustness aHash is for
      Multimodal.MediaRow(3L, gradient(32, 32, tweak = false), "png"),
      Multimodal.MediaRow(4L, inverse(64, 64), "png"),
      Multimodal.MediaRow(5L, Array[Byte](9, 9, 9), "png"))) // undecodable drops
    val hashed = Multimodal.aHashes(media).toDF()
    assert(hashed.count() == 4) // the corrupt body is absent, not hashed-as-zero
    val pairs = graft.operators.TextDedup
      .hammingPairs64(hashed, "media_id", "ahash", maxHamming = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) <= 2)
    assert(pairs.contains((1L, 3L))) // scale-invariant
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
    // deterministic across layout
    val again = Multimodal.aHashes(media.repartition(3)).collect()
      .map(h => h.media_id -> h.ahash).toMap
    val first = Multimodal.aHashes(media).collect()
      .map(h => h.media_id -> h.ahash).toMap
    assert(again == first)
  }

  test("sampleFrames: k uniform-offset frames per asset, bounded slices") {
    val body = (0 until 1000).map(_.toByte).toArray
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, body, "mp4"),
      Multimodal.MediaRow(2L, Array[Byte](), "mp4"))) // empty asset -> no frames
    val got = Multimodal.sampleFrames(media, k = 4, frameBytes = 100).collect()
    assert(got.length == 4 && got.forall(_.media_id == 1L))
    assert(got.sortBy(_.frame_ix).map(_.byte_offset).toSeq == Seq(0L, 250L, 500L, 750L))
    assert(got.forall(_.frame.length == 100))
    assert(got.sortBy(_.frame_ix).head.frame(0) == 0.toByte)
  }

  test("multimodal: spectral bands — a pure tone lands in exactly its band") {
    import spark.implicits._
    // bin 96 of a 1024-window at 8 kHz = 750 Hz -> band 1 of 8 ([500,1000))
    val tone = Array.tabulate(1024)(i =>
      0.5 * math.sin(2.0 * math.Pi * 96.0 * i / 1024.0)).toSeq
    // constant (DC) signal -> all energy in band 0
    val dc = Seq.fill(1024)(0.4)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, Multimodal.wavPcm16(tone, 8000), "wav"),
      Multimodal.MediaRow(2L, Multimodal.wavPcm16(dc, 8000), "wav"),
      Multimodal.MediaRow(3L, Array[Byte](9, 9, 9), "wav"))) // corrupt → dropped
    val got = Multimodal.spectralBands(media).collect()
      .groupBy(_.media_id)
    assert(!got.contains(3L))
    val byBand1 = got(1L).map(s => s.band -> s).toMap
    assert(byBand1.size == 8)
    assert(byBand1(1).lo_hz == 500.0 && byBand1(1).hi_hz == 1000.0)
    assert(byBand1(1).energy_share > 0.999)
    assert(byBand1(1).sample_rate == 8000 && byBand1(1).n_samples == 1024)
    assert(math.abs(got(1L).map(_.energy_share).sum - 1.0) < 1e-9)
    val byBand2 = got(2L).map(s => s.band -> s.energy_share).toMap
    assert(byBand2(0) > 0.999)
    // deterministic: a second run reproduces bit-identical energies
    val again = Multimodal.spectralBands(media).collect()
      .filter(_.media_id == 1L).map(_.energy).toSeq
    assert(again == got(1L).map(_.energy).toSeq)
  }

  test("jdbc export: merge-on-grain round-trips, updates in place, re-run idempotent") {
    import graft.sources.JdbcExport
    val url = s"jdbc:derby:memory:graftdw${System.nanoTime()};create=true"
    val dim = Seq(
      (1L, "RED", 10.5, true),
      (2L, "BLUE", 20.0, false),
      (3L, "GREEN", 30.25, true)).toDF("k", "name", "score", "active")
    val (u1, i1) = JdbcExport.mergeByKey(dim, url, "dim_color", Seq("k"))
    assert(u1 == 0L && i1 == 3L)
    // round-trip: read back through Spark's own JDBC source and
    // compare values (Derby uppercases unquoted identifiers)
    def readBack(): Map[Long, (String, Double, Boolean)] =
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "dim_color").load()
        .collect().map(r => r.getAs[Long]("K") ->
          ((r.getAs[String]("NAME"), r.getAs[Double]("SCORE"),
            r.getAs[Boolean]("ACTIVE")))).toMap
    val got1 = readBack()
    assert(got1 == Map(1L -> (("RED", 10.5, true)),
      2L -> (("BLUE", 20.0, false)), 3L -> (("GREEN", 30.25, true))))
    // idempotence: the identical frame updates every grain, inserts none,
    // and the table is value-identical after
    val (u2, i2) = JdbcExport.mergeByKey(dim, url, "dim_color", Seq("k"))
    assert(u2 == 3L && i2 == 0L)
    assert(readBack() == got1)
    // merge semantics: one changed grain updates in place, one new
    // grain inserts, untouched grains keep their rows
    val delta = Seq((2L, "NAVY", 21.0, true), (4L, "CYAN", 40.0, false))
      .toDF("k", "name", "score", "active")
    val (u3, i3) = JdbcExport.mergeByKey(delta, url, "dim_color", Seq("k"))
    assert(u3 == 1L && i3 == 1L)
    assert(readBack() == Map(1L -> (("RED", 10.5, true)),
      2L -> (("NAVY", 21.0, true)), 3L -> (("GREEN", 30.25, true)),
      4L -> (("CYAN", 40.0, false))))
    // grain contract: duplicate keys are refused, not exported
    val dup = Seq((7L, "A", 1.0, true), (7L, "B", 2.0, true))
      .toDF("k", "name", "score", "active")
    intercept[IllegalArgumentException] {
      JdbcExport.mergeByKey(dup, url, "dim_color", Seq("k"))
    }
    // overwrite (the full-reload shape): table holds exactly the new
    // frame afterwards, consumer table object intact
    val reload = Seq((9L, "GRAY", 0.5, false)).toDF("k", "name", "score", "active")
    assert(JdbcExport.overwrite(reload, url, "dim_color") == 1L)
    assert(readBack() == Map(9L -> (("GRAY", 0.5, false))))
    // nulls survive the trip (typed setNull path)
    val withNull = Seq((10L, null.asInstanceOf[String], 1.0, true))
      .toDF("k", "name", "score", "active")
    val (_, i4) = JdbcExport.mergeByKey(withNull, url, "dim_color", Seq("k"))
    assert(i4 == 1L)
    val r10 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dim_color").load()
      .filter(col("K") === 10L).collect().head
    assert(r10.isNullAt(r10.fieldIndex("NAME")))
  }

  test("jdbc export: keys-only grain merges as insert-if-absent (bridge/junk shape)") {
    import graft.sources.JdbcExport
    val url = s"jdbc:derby:memory:graftbr${System.nanoTime()};create=true"
    // a pure bridge: the whole row IS the grain, nothing to update
    val bridge = Seq((1L, 100L), (1L, 101L), (2L, 100L))
      .toDF("group_k", "member_k")
    val (u1, i1) = JdbcExport.mergeByKey(bridge, url, "br_members",
      Seq("group_k", "member_k"))
    assert(u1 == 0L && i1 == 3L)
    def readBack(): Set[(Long, Long)] =
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "br_members").load()
        .collect().map(r => (r.getAs[Long]("GROUP_K"),
          r.getAs[Long]("MEMBER_K"))).toSet
    assert(readBack() == Set((1L, 100L), (1L, 101L), (2L, 100L)))
    // re-run: every grain probes as present (no-op touch counts as
    // updated), nothing inserts, table state identical
    val (u2, i2) = JdbcExport.mergeByKey(bridge, url, "br_members",
      Seq("group_k", "member_k"))
    assert(u2 == 3L && i2 == 0L)
    assert(readBack() == Set((1L, 100L), (1L, 101L), (2L, 100L)))
    // delta: one present pair no-ops, one new pair inserts
    val delta = Seq((2L, 100L), (2L, 101L)).toDF("group_k", "member_k")
    val (u3, i3) = JdbcExport.mergeByKey(delta, url, "br_members",
      Seq("group_k", "member_k"))
    assert(u3 == 1L && i3 == 1L)
    assert(readBack() == Set((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L)))
  }

  test("jdbc export: SUCCESS_NO_INFO re-probe recovers exact per-row hit counts") {
    import graft.sources.JdbcExport
    import org.apache.spark.sql.Row
    // the fallback path a SUCCESS_NO_INFO driver takes — Derby itself
    // reports exactly, so drive the extracted re-probe directly
    // against a real Derby UPDATE statement
    val url = s"jdbc:derby:memory:graftnp${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val ddl = conn.createStatement()
      ddl.executeUpdate("CREATE TABLE t_np (k BIGINT, v VARCHAR(10))")
      ddl.executeUpdate("INSERT INTO t_np VALUES (1, 'a')")
      ddl.close()
      val upd = conn.prepareStatement("UPDATE t_np SET v = ? WHERE k = ?")
      try {
        val chunk = Seq(Row("x", 1L), Row("y", 2L), Row("z", 1L))
        val counts = JdbcExport.reprobeCounts(chunk, upd, (st, r) => {
          st.setString(1, r.getString(0)); st.setLong(2, r.getLong(1))
        })
        // exact hits: k=1 present (twice re-probed, idempotent), k=2 absent
        assert(counts.toSeq == Seq(1, 0, 1))
      } finally upd.close()
    } finally conn.close()
  }
}
