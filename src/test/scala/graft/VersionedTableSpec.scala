package graft

import java.nio.file.Files

import graft.sources.VersionedTable

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("commit/read: append accumulates, overwrite replaces, asOf time-travels") {
    val dir = Files.createTempDirectory("graft_vt").toString
    val v0 = VersionedTable.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    val v1 = VersionedTable.commit(Seq((3, "c")).toDF("k", "v"), dir)
    val v2 = VersionedTable.commit(Seq((9, "z")).toDF("k", "v"), dir, overwrite = true)
    assert((v0, v1, v2) == (0L, 1L, 2L))
    assert(VersionedTable.latestVersion(spark, dir).contains(2L))
    assert(VersionedTable.read(spark, dir).count() == 1)
    assert(VersionedTable.read(spark, dir, asOf = Some(0L)).count() == 2)
    val atV1 = VersionedTable.read(spark, dir, asOf = Some(1L))
      .orderBy("k").collect().map(_.getInt(0)).toSeq
    assert(atV1 == Seq(1, 2, 3))
    assert(VersionedTable.history(spark, dir).map(h => (h._1, h._2, h._3)) ==
      Seq((0L, "append", 1), (1L, "append", 2), (2L, "overwrite", 1)))
  }

  test("schema evolution: add-column commits merge on read, asOf sees the old shape") {
    val dir = Files.createTempDirectory("graft_vt_schema").toString
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    // later commit ADDS a column
    VersionedTable.commit(Seq((3L, "c", 30.0)).toDF("k", "v", "score"), dir)
    val latest = VersionedTable.read(spark, dir)
    // merged schema: all three columns; pre-evolution rows NULL-fill
    assert(latest.columns.toSet == Set("k", "v", "score"))
    val byK = latest.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byK(1L).isEmpty && byK(2L).isEmpty && byK(3L).contains(30.0))
    // time travel to before the addition: the OLD schema, not a NULL column
    val v0 = VersionedTable.read(spark, dir, asOf = Some(0L))
    assert(v0.columns.toSet == Set("k", "v"))
    // an OPTIMIZE rewrite unifies the physical schema; rows unchanged
    VersionedTable.optimizeCompact(spark, dir)
    val opt = VersionedTable.read(spark, dir)
    assert(opt.columns.toSet == Set("k", "v", "score") && opt.count() == 3)
    // incompatible type change (v: string -> v: long) fails LOUDLY at
    // read instead of silently casting
    val dir2 = Files.createTempDirectory("graft_vt_schema2").toString
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), dir2)
    VersionedTable.commit(Seq((2L, 99L)).toDF("k", "v"), dir2)
    val e = intercept[Exception] {
      VersionedTable.read(spark, dir2).collect()
    }
    assert(e.getMessage != null)
  }

  test("crashed commit is invisible: an orphan segment never reaches a reader") {
    val dir = Files.createTempDirectory("graft_vt_crash").toString
    VersionedTable.commit(Seq((1, "a")).toDF("k", "v"), dir)
    // simulate a crash AFTER the segment write, BEFORE the manifest
    // publish: a data dir with no manifest referencing it
    Seq((99, "orphan")).toDF("k", "v").write.parquet(s"$dir/data/c1-deadbeef")
    assert(VersionedTable.latestVersion(spark, dir).contains(0L))
    assert(VersionedTable.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(1))
    // the next commit proceeds normally past the orphan
    val v = VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir)
    assert(v == 1L && VersionedTable.read(spark, dir).count() == 2)
  }

  test("segment-stats pruning: readWhere opens only range-matching segments") {
    val dir = Files.createTempDirectory("graft_vt_stats").toString
    VersionedTable.commit((0L to 9L).map(k => (k, s"v$k")).toDF("k", "v"), dir,
      statsCol = Some("k"))
    VersionedTable.commit((10L to 19L).map(k => (k, s"v$k")).toDF("k", "v"), dir,
      statsCol = Some("k"))
    VersionedTable.commit((20L to 29L).map(k => (k, s"v$k")).toDF("k", "v"), dir,
      statsCol = Some("k"))
    val got = VersionedTable.readWhere(spark, dir, "k", 12, 15)
    assert(got.orderBy("k").collect().map(_.getLong(0)).toSeq == (12L to 15L))
    // only the middle segment's files were opened
    val segDirs = got.inputFiles.map(f =>
      new java.io.File(f).getParentFile.getName).distinct
    assert(segDirs.length == 1 && segDirs.head.startsWith("c1-"))
    // a disjoint range reads zero rows without scanning anything
    assert(VersionedTable.readWhere(spark, dir, "k", 100, 200).count() == 0)
    // a range spanning two segments opens exactly those two
    val span = VersionedTable.readWhere(spark, dir, "k", 8, 11)
    assert(span.collect().map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L, 10L, 11L))
    assert(span.inputFiles.map(f => new java.io.File(f).getParentFile.getName)
      .distinct.length == 2)
  }

  test("bloom sidecar: readPoint prunes segments range stats cannot") {
    val dir = Files.createTempDirectory("graft_vt_bloom").toString
    // INTERLEAVED key sets: every segment's [min, max] spans the whole
    // domain, so stats pruning would open all three — the exact case
    // the bloom sidecar exists for
    VersionedTable.commit((0L to 28L by 2).map(k => (k, s"e$k")).toDF("k", "v"),
      dir, statsCol = Some("k"), bloomCol = Some("k"))
    VersionedTable.commit((1L to 29L by 2).map(k => (k, s"o$k")).toDF("k", "v"),
      dir, statsCol = Some("k"), bloomCol = Some("k"))
    VersionedTable.commit(Seq((2L, "dup2")).toDF("k", "v"),
      dir, statsCol = Some("k"), bloomCol = Some("k"))
    // range stats are blind between the two interleaved segments:
    // both [min,max] spans contain 4, so readWhere opens both (only
    // the single-key c2 segment is range-prunable)
    assert(VersionedTable.readWhere(spark, dir, "k", 4, 4).inputFiles
      .map(f => new java.io.File(f).getParentFile.getName).distinct.length == 2)
    val got = VersionedTable.readPoint(spark, dir, "k", 4L)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((4L, "e4")))
    val segDirs = got.inputFiles.map(f =>
      new java.io.File(f).getParentFile.getName).distinct
    assert(segDirs.forall(_.startsWith("c0-")), s"expected only c0, got $segDirs")
    // a key present in TWO segments returns both rows (bloom keeps both)
    val dup = VersionedTable.readPoint(spark, dir, "k", 2L)
      .collect().map(_.getString(1)).sorted
    assert(dup.toSeq == Seq("dup2", "e2"))
    // no false negatives anywhere
    (0L to 29L).foreach { k =>
      assert(VersionedTable.readPoint(spark, dir, "k", k).count() >= 1, s"lost key $k")
    }
    // an absent key reads nothing — typically zero segments opened
    assert(VersionedTable.readPoint(spark, dir, "k", 5000L).count() == 0)
  }

  test("bloom sidecar: segments without one stay readable (conservative)") {
    val dir = Files.createTempDirectory("graft_vt_bloom2").toString
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), dir) // no sidecars at all
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), dir, bloomCol = Some("k"))
    val got = VersionedTable.readPoint(spark, dir, "k", 1L)
    assert(got.collect().map(_.getString(1)).toSeq == Seq("a"))
    // non-integral bloom keys are rejected loudly at commit time
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(Seq((1L, "x")).toDF("k", "v"), dir, bloomCol = Some("v"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("versioned sink: replayed batch id commits nothing; foreign query applies") {
    val dir = Files.createTempDirectory("graft_vt_sink").toString
    val sc = spark.sparkContext
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((1, "a")).toDF("k", "v"), dir, 0L, writerId = Some("qA"))
    // at-least-once replay of batch 0 (content must not even be read)
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((99, "replay")).toDF("k", "v"), dir, 0L, writerId = Some("qA"))
    assert(VersionedTable.latestVersion(spark, dir).contains(0L))
    assert(VersionedTable.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(1))
    // the next batch id commits normally
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((2, "b")).toDF("k", "v"), dir, 1L, writerId = Some("qA"))
    assert(VersionedTable.read(spark, dir).count() == 2)
    // a different query's marker never suppresses a new query's batch 0
    // (identity resolved from the streaming queryId local property)
    sc.setLocalProperty("sql.streaming.queryId", "query-X")
    try {
      graft.streaming.StreamOps.versionedBatchCommit(
        Seq((3, "c")).toDF("k", "v"), dir, 0L)
      assert(VersionedTable.read(spark, dir).count() == 3)
    } finally sc.setLocalProperty("sql.streaming.queryId", null)
    // NO writer identity at all -> loud failure, never a shared default
    // (a silent shared identity would cross-suppress distinct writers)
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamOps.versionedBatchCommit(
        Seq((4, "d")).toDF("k", "v"), dir, 1L)
    }
    assert(e.getMessage.contains("no writer identity"))
  }

  test("optimizeCompact: one fresh segment, same rows, history intact until vacuum") {
    val dir = Files.createTempDirectory("graft_vt_opt").toString
    VersionedTable.commit(Seq((1, "a")).toDF("k", "v"), dir)
    VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir)
    VersionedTable.commit(Seq((3, "c")).toDF("k", "v"), dir)
    val v = VersionedTable.optimizeCompact(spark, dir)
    assert(v == 3L)
    assert(VersionedTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3))
    val hist = VersionedTable.history(spark, dir)
    assert(hist.last == ((3L, "overwrite", 1))) // compacted to ONE segment
    assert(VersionedTable.read(spark, dir, asOf = Some(1L)).count() == 2) // history readable
    VersionedTable.vacuum(spark, dir, retainVersions = 1)
    assert(new java.io.File(s"$dir/data").listFiles().count(_.isDirectory) == 1)
    assert(VersionedTable.read(spark, dir).count() == 3)
  }

  test("versionedSink end-to-end: one committed version per micro-batch over a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_vt_stream").toString
    val ckpt = Files.createTempDirectory("graft_vt_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.versionedSink(
      in.toDF.toDF("k", "v"), ckpt, dir, statsCol = Some("k")).start()
    try {
      in.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      in.addData(Seq((3L, "c")))
      q.processAllAvailable()
      assert(VersionedTable.latestVersion(spark, dir).contains(1L))
      assert(VersionedTable.read(spark, dir).count() == 3)
      // the first batch is still readable as its own snapshot
      assert(VersionedTable.read(spark, dir, asOf = Some(0L)).count() == 2)
      // segment stats flowed through the sink: a range read prunes
      assert(VersionedTable.readWhere(spark, dir, "k", 3.0, 9.0)
        .collect().map(_.getLong(0)).toSeq == Seq(3L))
    } finally q.stop()
  }

  test("legacy txn_app/txn_version manifests still drive replay detection") {
    val dir = Files.createTempDirectory("graft_vt_legacy").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/data/c0-legacy")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "_graft_log"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_log", "0.json"),
      """{"version": 0, "mode": "append", "segments": ["c0-legacy"], "txn_app": "qA", "txn_version": 7}""")
    assert(VersionedTable.lastTxnVersion(spark, dir, "qA").contains(7L))
    // a new commit carries the legacy marker forward into the map form
    VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir, txn = Some(("qB", 1L)))
    assert(VersionedTable.lastTxnVersion(spark, dir, "qA").contains(7L))
    assert(VersionedTable.lastTxnVersion(spark, dir, "qB").contains(1L))
  }

  test("txn markers survive OPTIMIZE and vacuum: a replay is still a no-op") {
    val dir = Files.createTempDirectory("graft_vt_txn").toString
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((1, "a")).toDF("k", "v"), dir, 0L, writerId = Some("qT"))
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((2, "b")).toDF("k", "v"), dir, 1L, writerId = Some("qT"))
    // compact + GC away every marker-bearing APPEND manifest
    VersionedTable.optimizeCompact(spark, dir)
    VersionedTable.vacuum(spark, dir, retainVersions = 1)
    // the crash-replay of batch 1 must still be detected as applied
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((99, "replay")).toDF("k", "v"), dir, 1L, writerId = Some("qT"))
    assert(VersionedTable.read(spark, dir).count() == 2)
    // and the genuinely next batch applies
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((3, "c")).toDF("k", "v"), dir, 2L, writerId = Some("qT"))
    assert(VersionedTable.read(spark, dir).count() == 3)
  }

  test("readWhere parses scientific-notation stats (tiny and negative values)") {
    val dir = Files.createTempDirectory("graft_vt_sci").toString
    VersionedTable.commit(
      Seq((0.00001, "a"), (0.00002, "b")).toDF("p", "v"), dir, statsCol = Some("p"))
    VersionedTable.commit(
      Seq((-0.000025, "c"), (5.0, "d")).toDF("p", "v"), dir, statsCol = Some("p"))
    // min 1.0E-5 renders in scientific notation; the reader must not choke
    val got = VersionedTable.readWhere(spark, dir, "p", 0.0, 0.001)
    assert(got.collect().map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
    val neg = VersionedTable.readWhere(spark, dir, "p", -1.0, -0.00001)
    assert(neg.collect().map(_.getString(1)).toSeq == Seq("c"))
  }

  test("vacuum keeps retained versions readable and reclaims dead + orphan segments") {
    val dir = Files.createTempDirectory("graft_vt_gc").toString
    VersionedTable.commit(Seq((1, "a")).toDF("k", "v"), dir)
    VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir)
    VersionedTable.commit(Seq((3, "c")).toDF("k", "v"), dir, overwrite = true)
    Seq((99, "orphan")).toDF("k", "v").write.parquet(s"$dir/data/c9-deadbeef")
    // grace 0: no writer can be in flight here, so the fresh crash
    // orphan is sweepable immediately (the in-flight shield has its
    // own spec below)
    val (droppedManifests, deletedSegments) =
      VersionedTable.vacuum(spark, dir, retainVersions = 1, orphanGraceMs = 0L)
    assert(droppedManifests == 2)
    // v0+v1 segments and the orphan are gone; v2's segment survives
    assert(deletedSegments == 3)
    assert(VersionedTable.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(3))
    intercept[java.util.NoSuchElementException] {
      VersionedTable.read(spark, dir, asOf = Some(0L)).collect()
    }
  }

  test("deleteWhere: bloom-targeted erasure, by-reference carry, retention boundary") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_vt_del").toString
    // three bloom-keyed segments over disjoint user ranges
    VersionedTable.commit((1L to 10L).map(u => (u, s"r$u")).toDF("uid", "payload"),
      dir, bloomCol = Some("uid"), txn = Some(("loader", 7L)))
    VersionedTable.commit((11L to 20L).map(u => (u, s"r$u")).toDF("uid", "payload"),
      dir, bloomCol = Some("uid"))
    VersionedTable.commit((21L to 30L).map(u => (u, s"r$u")).toDF("uid", "payload"),
      dir, bloomCol = Some("uid"))
    val (v, rewritten, deleted) = VersionedTable.deleteWhere(
      spark, dir, "uid", 15L, bloomCol = Some("uid"))
    assert(v == 3L && deleted == 1L)
    // blooms cleared two of three segments: exactly one rewrite
    assert(rewritten == 1)
    val head = VersionedTable.read(spark, dir)
    assert(head.count() == 29)
    assert(head.filter(col("uid") === 15L).count() == 0)
    assert(VersionedTable.history(spark, dir).last._2 == "delete")
    // retention boundary: the PRE-delete version still serves row 15
    // until vacuum reclaims it — erasure completes at vacuum
    assert(VersionedTable.read(spark, dir, asOf = Some(2L))
      .filter(col("uid") === 15L).count() == 1)
    // txn markers carried through the delete manifest
    assert(VersionedTable.lastTxnVersion(spark, dir, "loader").contains(7L))
    // a key no bloom admits: no-op, no new version
    assert(VersionedTable.deleteWhere(spark, dir, "uid", 999L,
      bloomCol = Some("uid")) == ((3L, 0, 0L)))
    assert(VersionedTable.latestVersion(spark, dir).contains(3L))
    // a fully-matching segment vanishes from the manifest entirely
    VersionedTable.commit(Seq((99L, "x"), (99L, "y")).toDF("uid", "payload"),
      dir, bloomCol = Some("uid"))
    val segsBefore = VersionedTable.history(spark, dir).last._3
    val (_, rw2, del2) = VersionedTable.deleteWhere(spark, dir, "uid", 99L,
      bloomCol = Some("uid"))
    assert(rw2 == 1 && del2 == 2L)
    assert(VersionedTable.history(spark, dir).last._3 == segsBefore - 1)
    assert(VersionedTable.read(spark, dir).count() == 29)
    // vacuum reclaims the pre-delete history: the subject is now gone
    VersionedTable.vacuum(spark, dir, retainVersions = 1)
    intercept[Exception] {
      VersionedTable.read(spark, dir, asOf = Some(2L)).collect()
    }
    assert(VersionedTable.read(spark, dir).filter(col("uid") === 15L).count() == 0)
  }

  test("merge: copy-on-write upsert rewrites only sidecar-targeted segments") {
    val dir = Files.createTempDirectory("graft_vt_merge").toString
    // three range-clustered segments with stats + bloom sidecars on k
    for (lo <- Seq(1L, 11L, 21L))
      VersionedTable.commit((lo to lo + 9).map(k => (k, s"v$k")).toDF("k", "v"),
        dir, statsCol = Some("k"), bloomCol = Some("k"))
    def segDirs(files: Set[String]) =
      files.map(f => f.substring(0, f.lastIndexOf('/')))
    val f2 = VersionedTable.read(spark, dir, Some(2L)).inputFiles.toSet
    val (v, rewritten, updated, inserted) = VersionedTable.merge(spark, dir,
      Seq((15L, "NEW15"), (16L, "NEW16"), (99L, "NEW99")).toDF("k", "v"), "k",
      statsCol = Some("k"), bloomCol = Some("k"))
    // keys 15/16 land in the middle segment's range only; 99 is new
    assert(v == 3L && rewritten == 1 && updated == 2L && inserted == 1L)
    val cur = VersionedTable.read(spark, dir)
    assert(cur.count() == 31)
    val byK = cur.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byK(15L) == "NEW15" && byK(16L) == "NEW16" && byK(99L) == "NEW99")
    assert(byK(1L) == "v1" && byK(21L) == "v21") // untouched rows intact
    // by-reference carry: two untouched segments share physical files
    // across versions; exactly one fresh merge segment appears
    val f3 = cur.inputFiles.toSet
    assert(segDirs(f2 intersect f3).size == 2)
    assert(segDirs(f3 -- f2).size == 1)
    assert(VersionedTable.history(spark, dir).last._2 == "merge")
    // time travel: pre-merge snapshot unchanged
    assert(VersionedTable.read(spark, dir, Some(2L)).count() == 30)
    // an all-new-key merge rewrites nothing (pure insert segment)
    val (v4, rw4, up4, ins4) = VersionedTable.merge(spark, dir,
      Seq((200L, "x")).toDF("k", "v"), "k",
      statsCol = Some("k"), bloomCol = Some("k"))
    assert(v4 == 4L && rw4 == 0 && up4 == 0L && ins4 == 1L)
    assert(VersionedTable.read(spark, dir).count() == 32)
    // duplicate-key and null-key sources fail loudly (ambiguous MERGE)
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, Seq((1L, "a"), (1L, "b")).toDF("k", "v"), "k")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq((Some(1L), "a"), (None, "b")).toDF("k", "v"), "k")
    }
    // txn markers merge in and carry forward through a merge commit
    VersionedTable.merge(spark, dir, Seq((15L, "AGAIN")).toDF("k", "v"), "k",
      statsCol = Some("k"), bloomCol = Some("k"), txn = Some(("upserter", 3L)))
    assert(VersionedTable.lastTxnVersion(spark, dir, "upserter").contains(3L))
  }

  test("merge: an unreadable bloom sidecar never clears its segment") {
    val dir = Files.createTempDirectory("graft_vt_merge_badbloom").toString
    for (lo <- Seq(1L, 11L))
      VersionedTable.commit((lo to lo + 9).map(k => (k, s"v$k")).toDF("k", "v"),
        dir, bloomCol = Some("k"))
    // truncate the first segment's filter: the base64 still decodes,
    // the filter inside it does not (its checksum twin goes too, so the
    // file itself stays readable)
    val first = new java.io.File(s"$dir/data").listFiles().map(_.getName)
      .filter(_.startsWith("c0-")).head
    val bloom = java.nio.file.Paths.get(dir, "data", first, "_graft_bloom.json")
    Files.writeString(bloom, Files.readString(bloom)
      .replaceFirst("(\"bits_b64\": \"[^\"]{8})[^\"]*", "$1"))
    Files.deleteIfExists(bloom.resolveSibling("._graft_bloom.json.crc"))
    // readers treat it as "might contain"
    assert(VersionedTable.readPoint(spark, dir, "k", 5L).count() == 1)
    val (v, rewritten, updated, inserted) = VersionedTable.merge(spark, dir,
      Seq((5L, "NEW5"), (99L, "NEW99")).toDF("k", "v"), "k", bloomCol = Some("k"))
    // c0 rewritten because its bloom cannot be read; c1's bloom clears it
    assert((v, rewritten, updated, inserted) == ((2L, 1, 1L, 1L)))
    val expected = (1L to 20L).map(k => k -> s"v$k").toMap ++
      Map(5L -> "NEW5", 99L -> "NEW99")
    val got = VersionedTable.read(spark, dir).collect()
    assert(got.length == expected.size)
    assert(got.map(r => r.getLong(0) -> r.getString(1)).toMap == expected)
  }

  test("on-disk format: every manifest and sidecar, byte for byte (nonces masked)") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_vt_format").toString
    def rows(ks: Seq[Long]) = ks.map(k => (k, k % 3, s"v$k")).toDF("k", "x", "v")
    val k = Some("k")
    VersionedTable.commit(rows(1L to 4L), dir, statsCol = k, bloomCol = k,
      txn = Some(("w", 1L)))                                                   // v0
    VersionedTable.commit(rows(1L to 6L), dir, overwrite = true, statsCol = k) // v1
    VersionedTable.commit(rows(20L to 22L), dir, statsCol = k)                 // v2
    VersionedTable.merge(spark, dir, rows(Seq(2L, 9L)), "k", statsCol = k,
      txn = Some(("m", 3L)))                                                   // v3
    VersionedTable.deleteWhere(spark, dir, "k", 21L, statsCol = k, bloomCol = k) // v4
    VersionedTable.restore(spark, dir, 1L)                                     // v5
    VersionedTable.optimizeCompact(spark, dir)                                 // v6
    VersionedTable.optimizeZOrder(spark, dir, Seq("k", "x"), nFiles = 1)      // v7
    def mask(s: String) = s.replaceAll("""c(\d+)-[0-9a-f]{8}""", "c$1-NONCE")
    def text(p: java.nio.file.Path) = mask(Files.readString(p))
    val log = java.nio.file.Paths.get(dir, "_graft_log")
    val manifests = (0 to 7).map(v => text(log.resolve(s"$v.json")))
    assert(Files.list(log).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSeq.sorted == (0 to 7).map(v => s"$v.json"))
    assert(manifests == Seq(
      """{"version": 0, "mode": "append", "segments": ["c0-NONCE"], "txns": {"w": 1}}""",
      """{"version": 1, "mode": "overwrite", "segments": ["c1-NONCE"], "txns": {"w": 1}}""",
      """{"version": 2, "mode": "append", "segments": ["c1-NONCE", "c2-NONCE"], "txns": {"w": 1}}""",
      """{"version": 3, "mode": "merge", "segments": ["c2-NONCE", "c3-NONCE-m"], "txns": {"m": 3, "w": 1}}""",
      """{"version": 4, "mode": "delete", "segments": ["c3-NONCE-m", "c4-NONCE-d0"], "txns": {"m": 3, "w": 1}}""",
      """{"version": 5, "mode": "restore", "segments": ["c1-NONCE"], "txns": {"m": 3, "w": 1}}""",
      """{"version": 6, "mode": "overwrite", "segments": ["c6-NONCE-o"], "txns": {"m": 3, "w": 1}}""",
      """{"version": 7, "mode": "overwrite", "segments": ["c7-NONCE-z"], "txns": {"m": 3, "w": 1}}"""))
    val data = java.nio.file.Paths.get(dir, "data")
    val sidecars = Files.list(data).iterator().asScala.toSeq.flatMap { seg =>
      Seq("_graft_stats.json", "_graft_bloom.json").map(seg.resolve)
        .filter(Files.exists(_))
        .map(p => s"${mask(seg.getFileName.toString)}/${p.getFileName}: ${text(p)}")
    }.sorted
    assert(sidecars == Seq(
      """c0-NONCE/_graft_bloom.json: {"column": "k", "n": 4, "fpp": 0.01, "bits_b64": "AAAAAgAAAAcAAAAAAAAAAaFNFEMCHKTA"}""",
      """c0-NONCE/_graft_stats.json: {"column": "k", "min": 1.0, "max": 4.0}""",
      """c1-NONCE/_graft_stats.json: {"column": "k", "min": 1.0, "max": 6.0}""",
      """c2-NONCE/_graft_stats.json: {"column": "k", "min": 20.0, "max": 22.0}""",
      """c3-NONCE-m/_graft_stats.json: {"column": "k", "min": 1.0, "max": 9.0}""",
      """c4-NONCE-d0/_graft_bloom.json: {"column": "k", "n": 2, "fpp": 0.01, "bits_b64": "AAAAAgAAAAcAAAAAAAAAAYIEiBAIgECJ"}""",
      """c4-NONCE-d0/_graft_stats.json: {"column": "k", "min": 20.0, "max": 22.0}"""))
  }

  test("restore: head rolls back by reference, history and txn markers survive") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_vt_restore").toString
    VersionedTable.commit((1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, txn = Some(("loader", 9L)))                        // v0
    VersionedTable.commit(Seq((6L, "bad")).toDF("k", "v"), dir) // v1 (regretted)
    VersionedTable.deleteWhere(spark, dir, "k", 3L)             // v2 (regretted)
    val v = VersionedTable.restore(spark, dir, 0L)
    assert(v == 3L)
    val head = VersionedTable.read(spark, dir)
    assert(head.count() == 5 && head.filter(col("k") === 3L).count() == 1)
    // by reference: restored head reads v0's physical files
    assert(head.inputFiles.toSet ==
      VersionedTable.read(spark, dir, Some(0L)).inputFiles.toSet)
    // the bad versions stay time-travelable until vacuum
    assert(VersionedTable.read(spark, dir, Some(2L)).count() == 5)
    assert(VersionedTable.history(spark, dir).last._2 == "restore")
    // replay detection survives the rollback
    assert(VersionedTable.lastTxnVersion(spark, dir, "loader").contains(9L))
    // vacuum keeps the restored head readable (its manifest references
    // the v0 segment)
    VersionedTable.vacuum(spark, dir, retainVersions = 1)
    assert(VersionedTable.read(spark, dir).count() == 5)
  }

  test("assertConstraints: clean batch passes; violations refuse loudly with counts") {
    import org.apache.spark.sql.functions.col
    val clean = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    VersionedTable.assertConstraints(clean,
      Seq("v_positive" -> (col("v") > 0)), uniqueKey = Some("k"))
    val dirty = Seq((1L, 10.0), (1L, -5.0), (2L, -1.0)).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      VersionedTable.assertConstraints(dirty,
        Seq("v_positive" -> (col("v") > 0)), uniqueKey = Some("k"))
    }
    assert(e.getMessage.contains("v_positive: 2 rows"))
    assert(e.getMessage.contains("unique_key(k): 1 duplicate rows"))
    // a NULL predicate result counts as a violation (CHECK semantics)
    val nullish = Seq((1L, Some(1.0)), (2L, None)).toDF("k", "v")
    val e2 = intercept[IllegalStateException] {
      VersionedTable.assertConstraints(nullish, Seq("v_positive" -> (col("v") > 0)))
    }
    assert(e2.getMessage.contains("v_positive: 1 rows"))
    // NULL keys refuse too
    val e3 = intercept[IllegalStateException] {
      VersionedTable.assertConstraints(
        Seq((Some(1L), 1.0), (None, 2.0)).toDF("k", "v"),
        Seq.empty, uniqueKey = Some("k"))
    }
    assert(e3.getMessage.contains("NULL keys"))
    // an EMPTY batch (no-op commit / empty micro-batch) passes
    // vacuously — sum() over zero rows is NULL, which must coalesce
    // to 0 violations, not throw ROW_VALUE_IS_NULL
    val empty = clean.filter(col("k") < 0L)
    VersionedTable.assertConstraints(empty,
      Seq("v_positive" -> (col("v") > 0)), uniqueKey = Some("k"))
  }

  test("changeFeed: version-to-version CDC reads only manifest-delta segments") {
    val dir = Files.createTempDirectory("graft_vt_cdf").toString
    VersionedTable.commit((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, statsCol = Some("k"), bloomCol = Some("k")) // v0
    VersionedTable.commit((11L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, statsCol = Some("k"), bloomCol = Some("k")) // v1
    VersionedTable.merge(spark, dir,
      Seq((5L, "NEW5"), (99L, "N99")).toDF("k", "v"), "k",
      statsCol = Some("k"), bloomCol = Some("k")) // v2
    val feed = VersionedTable.changeFeed(spark, dir, 1L, 2L, "k")
    val rows = feed.collect().map(r =>
      (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (5L, "UPDATE", Some("v5"), Some("NEW5")),
      (99L, "INSERT", None, Some("N99"))))
    // the untouched segment (keys 11..20) is shared by both manifests
    // and must never be scanned by the feed
    val shared = VersionedTable.read(spark, dir, Some(1L)).inputFiles.toSet
      .intersect(VersionedTable.read(spark, dir, Some(2L)).inputFiles.toSet)
    assert(shared.nonEmpty)
    assert(feed.inputFiles.toSet.intersect(shared).isEmpty)
    // a delete surfaces as DELETE with the old row
    VersionedTable.deleteWhere(spark, dir, "k", 7L,
      statsCol = Some("k"), bloomCol = Some("k")) // v3
    val delFeed = VersionedTable.changeFeed(spark, dir, 2L, 3L, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(delFeed.toSeq == Seq((7L, "DELETE", Some("v7"))))
  }

  test("concurrent appends: two interleaved committers all land exactly once") {
    val dir = Files.createTempDirectory("graft_vt_occ").toString
    VersionedTable.commit(Seq((0, "seed")).toDF("k", "v"), dir)
    val perWriter = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try (0 until perWriter).foreach { i =>
          VersionedTable.commit(
            Seq((w * 1000 + i, s"w$w-$i")).toDF("k", "v"), dir,
            txn = Some((s"writer$w", i.toLong)))
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit failed: ${Option(errs.peek())}")
    // every commit claimed its own slot: head = seed + 2*perWriter appends
    assert(VersionedTable.latestVersion(spark, dir).contains(2L * perWriter))
    // both writers fully visible, nothing lost, nothing doubled
    val keys = VersionedTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq
    val expected = (Seq(0) ++
      (1 to 2).flatMap(w => (0 until perWriter).map(w * 1000 + _))).sorted
    assert(keys == expected)
    // both writers' txn markers survived every interleaving into the
    // HEAD manifest (replay detection never regressed by a lost race)
    assert(VersionedTable.lastTxnVersion(spark, dir, "writer1")
      .contains(perWriter - 1L))
    assert(VersionedTable.lastTxnVersion(spark, dir, "writer2")
      .contains(perWriter - 1L))
  }

  test("derived rewrite racing a commit fails loudly; the commit is never lost") {
    val dir = Files.createTempDirectory("graft_vt_occ_drv").toString
    VersionedTable.commit(Seq((1, "a")).toDF("k", "v"), dir)
    VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir)
    // interleave a competing append between optimize's snapshot read
    // and its manifest claim (the seam fires once, then disarms)
    VersionedTable.beforeDerivedClaim = () => {
      VersionedTable.beforeDerivedClaim = () => ()
      VersionedTable.commit(Seq((3, "raced")).toDF("k", "v"), dir); ()
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        VersionedTable.optimizeCompact(spark, dir)
      }
      assert(e.getMessage.contains("re-derive"))
    } finally VersionedTable.beforeDerivedClaim = () => ()
    // the racing append WON — its rows were not compacted away
    assert(VersionedTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3))
    // re-deriving from the new head succeeds and keeps everything
    val v = VersionedTable.optimizeCompact(spark, dir)
    assert(VersionedTable.read(spark, dir, Some(v)).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(VersionedTable.history(spark, dir).last == ((v, "overwrite", 1)))
  }

  test("vacuum: retained-version reader survives; in-flight segment shielded by grace") {
    val dir = Files.createTempDirectory("graft_vt_occ_vac").toString
    VersionedTable.commit(Seq((1, "a")).toDF("k", "v"), dir) // v0
    VersionedTable.commit(Seq((2, "b")).toDF("k", "v"), dir) // v1
    VersionedTable.commit(Seq((3, "c")).toDF("k", "v"), dir) // v2
    // snapshot handle at a version the vacuum RETAINS, taken before it
    val reader = VersionedTable.read(spark, dir, Some(1L))
    // an in-flight commit: segment written, manifest not yet claimed
    Seq((50, "inflight")).toDF("k", "v").write.parquet(s"$dir/data/c3-inflight")
    VersionedTable.vacuum(spark, dir, retainVersions = 2) // default grace
    // v0 dropped, v1 retained: the pre-vacuum handle still collects
    assert(reader.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    intercept[java.util.NoSuchElementException] {
      VersionedTable.read(spark, dir, asOf = Some(0L))
    }
    // the young never-referenced segment is NOT sweepable yet — it is
    // indistinguishable from a commit about to publish its manifest
    assert(new java.io.File(s"$dir/data/c3-inflight").exists())
    // once no writer can be in flight, grace 0 reclaims it
    VersionedTable.vacuum(spark, dir, retainVersions = 2, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$dir/data/c3-inflight").exists())
  }

  test("versioned sink through an induced commit race: both writers land, replays still no-op") {
    val dir = Files.createTempDirectory("graft_vt_occ_sink").toString
    val batches = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        try (0 until batches).foreach { b =>
          graft.streaming.StreamOps.versionedBatchCommit(
            Seq((w * 1000 + b, s"w$w-b$b")).toDF("k", "v"), dir, b.toLong,
            writerId = Some(s"q$w"))
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing sink failed: ${Option(errs.peek())}")
    // every micro-batch from both queries landed exactly once
    val keys = VersionedTable.read(spark, dir).collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == (1 to 2).flatMap(w => (0 until batches).map(w * 1000 + _)).sorted)
    // at-least-once replay of either writer's last batch is a no-op
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((999, "replay")).toDF("k", "v"), dir, (batches - 1).toLong,
      writerId = Some("q1"))
    graft.streaming.StreamOps.versionedBatchCommit(
      Seq((998, "replay")).toDF("k", "v"), dir, (batches - 1).toLong,
      writerId = Some("q2"))
    assert(VersionedTable.read(spark, dir).count() == 2L * batches)
  }
}
