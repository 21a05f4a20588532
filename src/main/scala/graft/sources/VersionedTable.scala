package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.util.sketch.BloomFilter

/** Versioned table with snapshot isolation and time travel — the
  * manifest-commit layer a lakehouse needs when directory swaps
  * ([[MedallionSink.swapDirs]]) are not enough.
  *
  * Layout:
  * {{{
  *   <dir>/data/c<version>-<nonce>/   immutable parquet segments
  *   <dir>/_graft_log/<version>.json  manifest: mode + visible segments
  *                                    + writer txn markers
  * }}}
  *
  * A commit writes its segment directory FIRST, then publishes a
  * manifest listing every segment visible at that version (append =
  * predecessor's list + the new segment; overwrite = the new segment
  * alone). The manifest publish is the commit point: a crash mid-write
  * leaves an orphan segment no manifest references — invisible to
  * every reader, reclaimed by [[vacuum]]. Readers resolve a version
  * from the log and read exactly its segment list, so a reader never
  * observes a half-commit and `asOf` reads replay any retained
  * version (time travel). Segments are never mutated after publish.
  *
  * All metadata I/O goes through the Hadoop FileSystem of `dir` —
  * the log works on any Hadoop-addressable store. The publish itself
  * is a CAS on the manifest slot ([[claimSlot]]): hard-link creation
  * on local filesystems (atomic fail-if-exists on POSIX), the
  * fails-if-destination-exists rename contract on HDFS; an object
  * store without either swaps ONLY this one call for a conditional
  * put (the manifest layout already isolates the commit point to one
  * small file — that is the point of the layout).
  *
  * CONCURRENT WRITERS (optimistic concurrency, the standard
  * table-format rule set): a blind [[commit]] — append or
  * whole-table replace, neither derived from a snapshot it read —
  * that loses the slot race REBASES onto the winner's manifest
  * (segment list and carried txn markers re-read) and retries, so
  * concurrent appends all land, each exactly once, in some
  * serializable order. A snapshot-DERIVED commit ([[optimizeCompact]],
  * [[deleteWhere]], [[merge]], [[restore]]) rewrites state it read at
  * a specific version; if any other commit lands first, silently
  * publishing would drop the winner's rows — so it fails LOUDLY with
  * `ConcurrentModificationException` and the caller re-derives from
  * the new head. Either way a commit is never silently lost; a loser's
  * already-written segment is an invisible orphan reclaimed by
  * [[vacuum]] (after its grace window — see there for why vacuum
  * cannot sweep an IN-FLIGHT commit's segment). Readers are unlimited
  * and lock-free.
  * Scale: manifests hold directory names, not file lists — a segment
  * is a normal multi-file parquet directory, so commit cost is O(1)
  * driver work regardless of data size.
  *
  * Each on-disk format has ONE owner here: [[renderManifest]] writes
  * every manifest, [[sidecar]] reads every stats/bloom sidecar (under
  * one rule: evidence that cannot be read, or that was built on
  * another column, never clears a segment), [[writeSegment]] writes
  * every segment with its sidecars, `Rewrite` is the one path of the
  * snapshot-derived commits, and [[snapshot]]/[[scan]] are the one
  * way from a version to its files. Small files go through
  * [[SmallFiles]], shared with [[MedallionSink]] and
  * [[MedallionCatalog]].
  *
  * Writer txn markers (`txns`: writer identity → highest sequence
  * number) are CARRIED FORWARD through every commit — append,
  * overwrite, [[optimizeCompact]] — so the LATEST manifest always
  * holds the complete replay-detection state: [[lastTxnVersion]]
  * reads one file (O(1) per micro-batch), and [[vacuum]]/compaction
  * can never resurrect an already-applied batch.
  */
object VersionedTable {

  /** Manifests and stats sidecars are hand-rendered JSON: an
    * identifier carrying a quote/backslash/control char would corrupt
    * the file the COMMIT POINT depends on (the regex readers would
    * then silently drop segments or txn markers), so identifiers are
    * rejected at commit time rather than escaped — a column or writer
    * id with a quote in it is an error upstream, not a rendering
    * problem.
    */
  private def requireJsonSafe(s: String, what: String): String = {
    require(s.nonEmpty && !s.exists(c => c == '"' || c == '\\' || c.isControl),
      s"$what must be non-empty and free of quotes/backslashes/control chars " +
        s"(it is embedded in hand-rendered manifest JSON): ${s.trim}")
    s
  }

  /** [[requireJsonSafe]] over every identifier a write may render. */
  private def requireJsonSafe(statsCol: Option[String], bloomCol: Option[String],
                              txn: Option[(String, Long)]): Unit = {
    statsCol.foreach(requireJsonSafe(_, "statsCol"))
    bloomCol.foreach(requireJsonSafe(_, "bloomCol"))
    txn.foreach(t => requireJsonSafe(t._1, "txn writer id"))
  }

  /** Commit `df` as the next version. `overwrite=false` appends to the
    * predecessor's visible set; `overwrite=true` replaces it. Returns
    * the committed version number.
    *
    * `statsCol` names a numeric column whose [min, max] is recorded in
    * a `_graft_stats.json` sidecar INSIDE the new segment (written
    * before the manifest publish, so it is part of the commit):
    * [[readWhere]] then skips whole segments outside a requested key
    * range — partition-pruning for the versioned log, O(#segments)
    * driver work, no data read for skipped segments.
    *
    * `txn` is a (writer identity, sequence number) pair merged into
    * the manifest's carried-forward marker map — the idempotent-sink
    * contract ([[lastTxnVersion]]): a streaming writer keys it on
    * (query id, batch id) so an at-least-once replay commits nothing
    * twice, while a DIFFERENT query's marker is foreign and never
    * suppresses a batch.
    */
  def commit(df: DataFrame, dir: String, overwrite: Boolean = false,
             statsCol: Option[String] = None,
             txn: Option[(String, Long)] = None,
             bloomCol: Option[String] = None): Long = {
    val spark = df.sparkSession
    requireJsonSafe(statsCol, bloomCol, txn)
    val hfs = fs(spark, dir)
    // The segment writes ONCE, before the claim loop: rebasing is a
    // metadata-only retry (its name encodes the version it first
    // aimed at — cosmetic; manifests reference segments by name).
    val segment = segmentName(versions(hfs, dir).maxOption.map(_ + 1).getOrElse(0L), "")
    writeSegment(spark, hfs, dir, segment, statsCol, bloomCol)(zstd(df))
    // Optimistic claim loop: a blind append/replace commutes with any
    // winner (its rows are independent of table state it never read),
    // so a lost race re-reads the NEW head's segment list and txn map
    // and retries the next slot — every interleaving serializes, no
    // commit is silently lost. The attempt cap turns a pathological
    // livelock (or a broken store whose claims always fail) into a
    // loud error instead of an infinite loop.
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val committed = versions(hfs, dir)
      val v = committed.maxOption.map(_ + 1).getOrElse(0L)
      val prevJson = committed.maxOption.map(pv => manifestJson(hfs, dir, pv))
      val prevSegs =
        if (overwrite) Seq.empty
        else prevJson.map(segmentNames).getOrElse(Seq.empty)
      val txns = withTxn(prevJson.map(txnsOf).getOrElse(Map.empty), txn)
      val mode = if (overwrite) "overwrite" else "append"
      if (claimSlot(hfs, dir, v, renderManifest(v, mode, prevSegs :+ segment, txns))) return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"commit to $dir lost the manifest-slot race $MaxCommitAttempts times — " +
        "giving up loudly (the written segment is an invisible orphan, " +
        "reclaimed by vacuum); retry the commit")
  }

  /** Claim attempts before a blind commit gives up loudly. With real
    * contention each attempt loses only to another SUCCESSFUL commit,
    * so 50 losses means 50 concurrent writers landed meanwhile.
    */
  private val MaxCommitAttempts = 50

  /** Targeted DELETE (the GDPR-erasure shape): remove every row whose
    * integral `keyCol` equals `value`, as a new committed version.
    * Only segments that MIGHT contain the key rewrite — the same
    * sidecar evidence the readers prune by (bloom "definitely not
    * here", stats range miss) carries untouched segments forward BY
    * REFERENCE, so erasing one subject from a 10k-segment table
    * rewrites the handful of segments the blooms cannot clear.
    * Rewritten segments re-publish the requested sidecars; a segment
    * whose every row matched vanishes from the manifest entirely.
    * Txn markers carry forward (replay detection survives the
    * rewrite); a crash mid-rewrite leaves only invisible orphans.
    * RETENTION BOUNDARY (documented, spec-pinned): older versions
    * still serve the deleted rows via `asOf` until [[vacuum]]
    * reclaims them — erasure COMPLETES at vacuum, the manifest
    * commit only stops serving them at the head.
    * Returns (new version, segments rewritten, rows deleted); a key
    * no segment might contain commits nothing and returns the
    * current version with zero counts.
    */
  def deleteWhere(spark: SparkSession, dir: String, keyCol: String,
                  value: Long,
                  statsCol: Option[String] = None,
                  bloomCol: Option[String] = None): (Long, Int, Long) = {
    val rw = new Rewrite(spark, dir, statsCol, bloomCol)
    // the readers' pruning evidence, reused for targeting: a bloom
    // "definitely not here" or a stats range miss clears a segment;
    // anything inconclusive is a possible container (a rewrite too
    // many, never an erasure too few)
    val (affected, untouched) = rw.segments.partition { s =>
      bloomFilter(rw.hfs, dir, s, keyCol).forall(_.mightContainLong(value)) &&
        statsRange(rw.hfs, dir, s, keyCol).forall { case (lo, hi) => lo <= value && value <= hi }
    }
    if (affected.isEmpty) return (rw.base, 0, 0L)
    var deleted = 0L
    val rewritten = affected.zipWithIndex.flatMap { case (s, i) =>
      rw.segment(s"d$i") { path =>
        val src = spark.read.parquet(s"$dir/data/$s")
        // null-safe: rows with a NULL key are never the erased subject
        zstd(src.filter(!(col(keyCol).cast("long") <=> lit(value))))(path)
        val keptN = spark.read.parquet(path).count()
        deleted += src.count() - keptN
        keptN > 0
      }
    }
    (rw.publish("delete", untouched ++ rewritten, "deleteWhere"), affected.size, deleted)
  }

  /** MERGE INTO (copy-on-write upsert): each source row REPLACES the
    * target row with the same integral `keyCol` (whole-row update) or
    * INSERTS if the key is new, committed as one new version. The
    * target stays unique on `keyCol` if it was before — merge is the
    * maintenance operation that KEEPS a versioned table keyed.
    *
    * Copy-on-write targeting reuses the readers' pruning evidence:
    * segments whose stats range cannot intersect the source-key range
    * are cleared on the driver; segments with a readable bloom sidecar
    * on `keyCol` are cleared by ONE distributed membership job (source
    * keys probe every candidate bloom; output is at most one row per
    * segment — never a key list at the driver). Only the surviving segments are
    * rewritten — merged into a SINGLE fresh segment together with the
    * source rows (their replaced rows dropped by a left-anti join) —
    * so upserting a small batch into a 10k-segment table rewrites the
    * handful of segments the sidecars cannot clear, and everything
    * else carries forward BY REFERENCE. A crash mid-rewrite leaves
    * only invisible orphans; the manifest publish is the commit point.
    *
    * Contract: source must be non-null and UNIQUE on `keyCol` (checked
    * with one aggregate job — duplicate-key merges are ambiguous and
    * fail loudly, the standard MERGE rule) and carry exactly the
    * target's columns. Txn markers carry forward and `txn` merges in,
    * so an idempotent streaming merge sink works unchanged.
    * Returns (version, segments rewritten, rows updated, rows
    * inserted); an empty source commits nothing.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame, keyCol: String,
            statsCol: Option[String] = None,
            bloomCol: Option[String] = None,
            txn: Option[(String, Long)] = None): (Long, Int, Long, Long) = {
    import org.apache.spark.sql.functions.{count, countDistinct, max, min}
    val rw = new Rewrite(spark, dir, statsCol, bloomCol, txn)
    val target = scan(spark, dir, rw.segments)
    require(source.columns.toSet == target.columns.toSet,
      s"merge source columns ${source.columns.sorted.mkString(",")} must equal " +
        s"target columns ${target.columns.sorted.mkString(",")}")
    val cols = target.columns.toSeq
    val src = source.select(cols.map(col): _*).localCheckpoint(true)
    // one panel job: row count, null-key count, key distinctness, key range
    val p = src.agg(count(lit(1)), count(col(keyCol)), countDistinct(col(keyCol)),
      min(col(keyCol)).cast("double"), max(col(keyCol)).cast("double")).head()
    val srcN = p.getLong(0)
    if (srcN == 0) return (rw.base, 0, 0L, 0L)
    require(p.getLong(1) == srcN, s"merge source has NULL $keyCol keys")
    require(p.getLong(2) == srcN,
      s"merge source is not unique on $keyCol (${srcN - p.getLong(2)} duplicate rows)")
    // Widen the source key range by 1 ULP each side: the panel casts
    // keys to double, and integral keys above 2^53 round — an exact
    // compare could falsely CLEAR a segment that contains a source key
    // (never bloom-probed → stale duplicate). Conservative widening
    // only costs extra probes, never correctness.
    val (srcLo, srcHi) =
      (Math.nextDown(p.getDouble(3)), Math.nextUp(p.getDouble(4)))
    // driver-side range clearing, then one distributed bloom-probe job
    val rangeSurvivors = rw.segments.filter { s =>
      statsRange(rw.hfs, dir, s, keyCol).forall { case (lo, hi) => hi >= srcLo && lo <= srcHi }
    }
    val blooms: Map[String, BloomFilter] = rangeSurvivors.flatMap { s =>
      bloomFilter(rw.hfs, dir, s, keyCol).map(s -> _)
    }.toMap
    val bloomHit: Set[String] =
      if (blooms.isEmpty) Set.empty
      else {
        val bc = spark.sparkContext.broadcast(blooms)
        src.select(col(keyCol).cast("long")).distinct().rdd
          .mapPartitions { it =>
            val hit = scala.collection.mutable.Set[String]()
            it.foreach { r =>
              val k = r.getLong(0)
              bc.value.foreach { case (s, f) =>
                if (!hit(s) && f.mightContainLong(k)) hit += s
              }
            }
            hit.iterator
          }.distinct().collect().toSet
      }
    val affected = rangeSurvivors.filter(s => !blooms.contains(s) || bloomHit(s))
    val untouched = rw.segments.filterNot(affected.contains)
    val (matchedN, rewriteData) =
      if (affected.isEmpty) (0L, src)
      else {
        val affectedDf = scan(spark, dir, affected)
        val srcKeys = src.select(col(keyCol))
        val m = affectedDf.join(srcKeys, Seq(keyCol), "left_semi").count()
        (m, affectedDf.select(cols.map(col): _*)
          .join(srcKeys, Seq(keyCol), "left_anti")
          .select(cols.map(col): _*).unionByName(src))
      }
    val v = rw.publish("merge", untouched ++ rw.segment("m")(zstd(rewriteData)), "merge")
    (v, affected.size, matchedN, srcN - matchedN)
  }

  /** Change data feed between two committed versions, for a table kept
    * UNIQUE on `keyCol` (i.e. maintained through [[merge]] /
    * [[deleteWhere]] / overwrite commits): INSERT / DELETE / UPDATE
    * rows with `old_` / `new_` attribute pairs, exactly
    * [[graft.operators.Cdc.snapshotDiff]] semantics.
    *
    * The lakehouse trick: segments are IMMUTABLE, so any row living in
    * a segment both manifests share cannot have changed — the diff
    * reads ONLY the segments the two manifests do NOT share (for a
    * small merge that is one rewritten + one fresh segment, however
    * large the table), then runs the keyed full-outer compare on that
    * bounded slice. On a table that is not key-unique between the two
    * versions the feed is as undefined as any keyed diff would be.
    * Schema evolution: attributes are taken from the NEWER version;
    * the older side NULL-fills columns it predates (an added-column
    * transition therefore reports as an UPDATE only where a real
    * value appeared — NULL to NULL is no change).
    */
  def changeFeed(spark: SparkSession, dir: String, fromVersion: Long,
                 toVersion: Long, keyCol: String): DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed: fromVersion=$fromVersion must precede toVersion=$toVersion")
    val hfs = fs(spark, dir)
    val oldSegs = segments(hfs, dir, fromVersion)
    val newSegs = segments(hfs, dir, toVersion)
    val newShape = scan(spark, dir, newSegs)
    val attrs = newShape.columns.toSeq.filterNot(_ == keyCol)
    // one side reads the segments its version does not share with the other
    def side(segs: Seq[String], other: Seq[String]): DataFrame = {
      val df = scan(spark, dir, segs, !other.contains(_))
      // align to the newer version's shape; predated columns NULL-fill
      val have = df.columns.toSet
      val aligned = (keyCol +: attrs).map { c =>
        if (have(c)) col(c)
        else lit(null).cast(newShape.schema(c).dataType).as(c)
      }
      df.select(aligned: _*)
    }
    graft.operators.Cdc.snapshotDiff(
      side(oldSegs, newSegs), side(newSegs, oldSegs), Seq(keyCol), attrs)
  }

  /** RESTORE: roll the table's HEAD back to `toVersion`'s content as
    * a NEW commit (the Delta-style restore) — nothing is deleted or
    * rewritten, the new manifest simply references the target
    * version's segments BY NAME, so restore is O(1) driver work
    * regardless of table size, history stays intact (the bad
    * versions remain readable until [[vacuum]]), and txn markers
    * carry forward from the CURRENT head so replay detection cannot
    * be rolled back with the data (a marker lost to restore would
    * let an already-applied streaming batch re-apply).
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    // restore derives from the head it read (which txn map to carry,
    // which version is "bad"): racing commits must beat it loudly
    val rw = new Rewrite(spark, dir)
    require(toVersion <= rw.base, s"restore target $toVersion is beyond head ${rw.base}")
    rw.publish("restore", segments(rw.hfs, dir, toVersion), "restore")
  }

  /** Commit-time CONSTRAINT gate (the Delta CHECK-constraint shape):
    * evaluate every named predicate over the batch in ONE aggregate
    * job and fail LOUDLY with per-constraint violation counts if any
    * row breaks any of them; `uniqueKey` additionally enforces
    * key-uniqueness (the invariant [[merge]] preserves but a plain
    * append could silently break). Run it immediately before
    * [[commit]]/[[merge]] — a constraint caught at write time costs
    * one scan; one caught downstream costs an incident.
    */
  def assertConstraints(df: DataFrame, checks: Seq[(String, org.apache.spark.sql.Column)],
                        uniqueKey: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce, count, countDistinct, lit, sum, when}
    if (checks.isEmpty && uniqueKey.isEmpty) return
    checks.foreach(c => requireJsonSafe(c._1, "constraint name"))
    // coalesce: sum() over an EMPTY batch is NULL, and an empty
    // micro-batch / no-op commit must pass vacuously, not throw.
    val aggs =
      checks.map { case (n, pred) =>
        coalesce(sum(when(!pred || pred.isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__viol_$n")
      } ++ uniqueKey.toSeq.flatMap(k => Seq(
        count(org.apache.spark.sql.functions.col(k)).as("__uk_n"),
        countDistinct(org.apache.spark.sql.functions.col(k)).as("__uk_d"),
        count(lit(1)).as("__uk_all")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val violations = checks.zipWithIndex.collect {
      case ((n, _), i) if r.getLong(i) > 0 => s"$n: ${r.getLong(i)} rows"
    }
    val ukViol = uniqueKey.flatMap { k =>
      val base = checks.size
      val (nn, nd, all) = (r.getLong(base), r.getLong(base + 1), r.getLong(base + 2))
      if (nn != all) Some(s"unique_key($k): ${all - nn} NULL keys")
      else if (nd != nn) Some(s"unique_key($k): ${nn - nd} duplicate rows")
      else None
    }
    val all = violations ++ ukViol
    if (all.nonEmpty)
      throw new IllegalStateException(
        s"constraint violations — commit refused: ${all.mkString("; ")}")
  }

  /** OPTIMIZE for a log of small streaming appends: rewrite the
    * CURRENT snapshot as one fresh segment and publish it as an
    * overwrite commit — readers of older versions are untouched
    * (history stays readable until [[vacuum]] reclaims it), a crash
    * mid-rewrite leaves only an invisible orphan, and the carried
    * txn-marker map keeps replay detection intact across the
    * rewrite. Source segments are immutable, so reading and
    * rewriting concurrently is safe by construction.
    */
  def optimizeCompact(spark: SparkSession, dir: String,
                      statsCol: Option[String] = None,
                      bloomCol: Option[String] = None): Long = {
    val rw = new Rewrite(spark, dir, statsCol, bloomCol)
    // rewrite of the snapshot AT the head it read, not "the latest": a
    // commit landing mid-rewrite must fail this optimize loudly (the
    // derived publish), never be silently compacted away
    rw.publish("overwrite", rw.segment("o")(zstd(scan(spark, dir, rw.segments))).toSeq,
      "optimizeCompact")
  }

  /** OPTIMIZE with Z-ORDER re-clustering — [[optimizeCompact]] whose
    * fresh segment is written through
    * [[MedallionSink.writeZOrderedN]], so the segment's parquet FILES
    * tile the `cols` space and a selective filter on ANY clustered
    * column footer-prunes most of them. This is the maintenance op
    * that keeps multi-column pruning ALIVE on a versioned table under
    * ongoing appends: every small append segment spans the whole
    * keyspace (its file footers prune nothing), and one
    * `optimizeZOrder` re-tiles the accumulated snapshot — point/range
    * locality is a property the log must periodically restore, not
    * one a single clustered write keeps. Requested sidecars
    * re-publish on the new segment (manifest-level [[readWhere]]/
    * [[readPoint]] pruning stays intact alongside the footer tiles);
    * history stays readable until [[vacuum]]; snapshot-DERIVED, so a
    * commit landing mid-rewrite beats it loudly (CAS, never silent
    * row loss).
    */
  def optimizeZOrder(spark: SparkSession, dir: String, cols: Seq[String],
                     nFiles: Int, bits: Int = 12,
                     statsCol: Option[String] = None,
                     bloomCol: Option[String] = None): Long = {
    val rw = new Rewrite(spark, dir, statsCol, bloomCol)
    val segment = rw.segment("z") { path =>
      MedallionSink.writeZOrderedN(scan(spark, dir, rw.segments), path, cols, nFiles, bits)
      true
    }
    rw.publish("overwrite", segment.toSeq, "optimizeZOrder")
  }

  /** Highest `txn` sequence number recorded for writer identity `app`
    * — the replay-detection probe for idempotent streaming commits.
    * Markers are carried forward into every manifest, so ONE read of
    * the latest manifest answers it, regardless of history length.
    */
  def lastTxnVersion(spark: SparkSession, dir: String, app: String): Option[Long] = {
    val hfs = fs(spark, dir)
    versions(hfs, dir).maxOption
      .flatMap(v => txnsOf(manifestJson(hfs, dir, v)).get(app))
  }

  /** Highest committed version, if any commit has ever published. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(fs(spark, dir), dir).maxOption

  /** Snapshot read: the latest version, or `asOf` for time travel.
    * Throws on a version that was never committed or has been
    * vacuumed away.
    *
    * SCHEMA EVOLUTION: segments are read with `mergeSchema`, so a
    * later commit may ADD columns — older segments surface the new
    * column as NULL, and an `asOf` read before the addition still
    * sees the old shape (the schema is versioned with the data, like
    * Delta/Iceberg add-column). Without the merge option Spark would
    * silently adopt one arbitrary segment file's schema and DROP the
    * others' extra columns. An incompatible change (same name,
    * conflicting type) fails the read loudly at plan time — the
    * type-widening rewrite is an OPTIMIZE-style full rewrite, not a
    * silent cast.
    */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame =
    snapshot(spark, dir, asOf)((_, _) => true)

  /** (version, mode, n_segments) for every retained manifest,
    * oldest first — the table's commit history.
    */
  def history(spark: SparkSession, dir: String): Seq[(Long, String, Int)] = {
    val hfs = fs(spark, dir)
    versions(hfs, dir).sorted.map { v =>
      val json = manifestJson(hfs, dir, v)
      val mode = """"mode"\s*:\s*"(\w+)"""".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("?")
      (v, mode, segmentNames(json).size)
    }
  }

  /** Snapshot read restricted to rows with `statsCol` in [lo, hi]:
    * segments whose recorded [min, max] cannot intersect the range are
    * never opened (a segment without a stats sidecar is read —
    * conservative), and the row filter still applies to what remains.
    * With range-clustered commits (e.g. daily appends keyed by date)
    * this is the manifest-level analog of
    * [[MedallionSink.writeClustered]]'s row-group skipping.
    */
  def readWhere(spark: SparkSession, dir: String, statsCol: String,
                lo: Double, hi: Double, asOf: Option[Long] = None): DataFrame = {
    require(lo <= hi, s"readWhere: lo=$lo > hi=$hi")
    snapshot(spark, dir, asOf) { (hfs, s) =>
      statsRange(hfs, dir, s, statsCol).forall { case (min, max) => max >= lo && min <= hi }
    }.filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** Point-lookup read: rows with `bloomCol == value`, opening only
    * segments whose bloom sidecar might contain it — the
    * high-cardinality-key complement of [[readWhere]]'s range
    * pruning (min/max stats stop pruning the moment the key isn't
    * what the data is clustered by; a bloom still says "definitely
    * not in this segment"). A segment without a sidecar (never
    * built, all-null, or unparsable) is read — conservative, no
    * false negatives ever; false positives cost one extra segment
    * scan at the sidecar's fpp. Pruning is O(#segments) driver work
    * on KB-sized sidecars; the residual equality filter still
    * applies to what remains.
    */
  def readPoint(spark: SparkSession, dir: String, bloomCol: String,
                value: Long, asOf: Option[Long] = None): DataFrame = {
    snapshot(spark, dir, asOf) { (hfs, s) =>
      bloomFilter(hfs, dir, s, bloomCol).forall(_.mightContainLong(value))
    }.filter(col(bloomCol) === value)
  }

  /** Garbage collection: drop manifests older than the newest
    * `retainVersions`, then delete every segment directory no
    * retained manifest references — including orphans from crashed
    * commits (segment written, manifest never published). Txn
    * markers are safe: the retained manifests carry the full map.
    * Readers of a RETAINED version are safe by construction: every
    * segment a kept manifest references stays live, so a snapshot
    * handle taken before the vacuum still collects after it.
    *
    * `orphanGraceMs` keeps vacuum safe against IN-FLIGHT commits: a
    * concurrent committer's just-written segment is indistinguishable
    * from a crash orphan until its manifest publishes, so
    * never-referenced directories are only swept once older than the
    * grace window (mtime). Segments referenced by a DROPPED manifest
    * are genuinely historical and delete immediately regardless.
    * Pass 0 only when no writer can be in flight (e.g. tests).
    * Returns (manifests dropped, segments deleted).
    */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 1,
             orphanGraceMs: Long = DefaultOrphanGraceMs): (Int, Int) = {
    require(retainVersions >= 1, s"retainVersions=$retainVersions must be >= 1")
    val hfs = fs(spark, dir)
    val vs = versions(hfs, dir).sorted
    if (vs.isEmpty) return (0, 0)
    val (drop, keep) = vs.splitAt(math.max(vs.size - retainVersions, 0))
    val live = keep.flatMap(segments(hfs, dir, _)).toSet
    val everReferenced = vs.flatMap(segments(hfs, dir, _)).toSet
    drop.foreach(v => hfs.delete(new HPath(s"$dir/_graft_log/$v.json"), false))
    val dataDir = new HPath(s"$dir/data")
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val dead =
      if (!hfs.exists(dataDir)) Seq.empty
      else hfs.listStatus(dataDir).toSeq
        .filterNot(st => live(st.getPath.getName))
        .filter(st => everReferenced(st.getPath.getName) ||
          st.getModificationTime <= cutoff)
        .map(_.getPath)
    dead.foreach(p => hfs.delete(p, true))
    // claim-tmp files a crashed committer left in the log dir: never
    // visible (the version regex ignores them) but they accumulate;
    // same grace rule — a LIVE committer's tmp is younger than it
    hfs.listStatus(new HPath(s"$dir/_graft_log")).toSeq
      .filter(st => st.getPath.getName.endsWith(".tmp") &&
        st.getModificationTime <= cutoff)
      .foreach(st => hfs.delete(st.getPath, false))
    (drop.size, dead.size)
  }

  /** Never-referenced directories younger than this survive [[vacuum]]
    * — long enough that any in-flight commit has either published or
    * demonstrably crashed before its segment becomes sweepable.
    */
  val DefaultOrphanGraceMs: Long = 60L * 60 * 1000

  // ---- reads: one path from a version to its segment files ----------

  /** The snapshot at `asOf` (the head when None), opening only the
    * segments `keep` admits.
    */
  private def snapshot(spark: SparkSession, dir: String, asOf: Option[Long])
                      (keep: (FileSystem, String) => Boolean): DataFrame = {
    val hfs = fs(spark, dir)
    val segs = segments(hfs, dir, asOf.getOrElse(head(hfs, dir)))
    scan(spark, dir, segs, keep(hfs, _))
  }

  /** The segments `keep` admits out of `segs`, read with `mergeSchema`
    * (see [[read]]); when it admits none, an empty frame of the shape
    * of all of `segs`.
    */
  private def scan(spark: SparkSession, dir: String, segs: Seq[String],
                   keep: String => Boolean = _ => true): DataFrame = {
    val kept = segs.filter(keep)
    def parquet(ss: Seq[String]) =
      spark.read.option("mergeSchema", "true").parquet(ss.map(s => s"$dir/data/$s"): _*)
    if (kept.isEmpty) parquet(segs).filter(lit(false)) else parquet(kept)
  }

  // ---- segments and their sidecars -----------------------------------

  private def nonce(): String = java.util.UUID.randomUUID().toString.take(8)

  /** `c<version>-<nonce><tag>`: the version it first aimed at, a
    * writer-unique nonce, and its origin (`-m` merge, `-dN` delete,
    * `-o`/`-z` optimize, none for a plain commit).
    */
  private def segmentName(v: Long, tag: String): String = s"c$v-${nonce()}$tag"

  /** Segment writer for a whole frame; the segment is always kept. */
  private def zstd(df: DataFrame): String => Boolean = { path =>
    df.write.mode("errorifexists").option("compression", "zstd").parquet(path)
    true
  }

  /** Fill segment `name` through `write` (handed the segment's path),
    * then seal it with the requested sidecars — built from the files
    * just written, inside the segment, before any manifest names it,
    * so they are part of the commit. `write` returns false to discard
    * the segment (every row of it deleted): its directory goes before
    * any sidecar is built. Returns the name of a kept segment.
    */
  private def writeSegment(spark: SparkSession, hfs: FileSystem, dir: String, name: String,
                           statsCol: Option[String], bloomCol: Option[String])
                          (write: String => Boolean): Option[String] = {
    val path = s"$dir/data/$name"
    if (!write(path)) { hfs.delete(new HPath(path), true); None }
    else {
      statsCol.foreach(writeStatsSidecar(spark, hfs, path, _))
      bloomCol.foreach(writeBloomSidecar(spark, hfs, path, _))
      Some(name)
    }
  }

  private val StatsFile = "_graft_stats.json"
  private val BloomFile = "_graft_bloom.json"

  /** One-column scan of a just-written segment (at footer-stats
    * maturity this becomes a metadata read; the sidecar contract —
    * and the pruning it feeds — is identical either way). NaN/
    * Infinity are not JSON atoms — a segment with non-finite bounds
    * publishes NO sidecar and is simply always read (conservative).
    */
  private def writeStatsSidecar(spark: SparkSession, hfs: FileSystem,
                                path: String, c: String): Unit = {
    import org.apache.spark.sql.functions.{max, min}
    val r = spark.read.parquet(path)
      .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    if (!r.isNullAt(0) &&
        java.lang.Double.isFinite(r.getDouble(0)) &&
        java.lang.Double.isFinite(r.getDouble(1)))
      SmallFiles.publish(hfs, new HPath(path, StatsFile),
        s"""{"column": "$c", "min": ${r.getDouble(0)}, "max": ${r.getDouble(1)}}""")
  }

  /** Bloom sidecar for POINT lookups: min/max stats prune only when
    * the data is clustered by the key — on a high-cardinality
    * unclustered key every segment's range spans everything and
    * readWhere opens all of them; a per-segment bloom still answers
    * "definitely not here". Built distributed (partial filters
    * bit-or merged — no key list at the driver), sized to the
    * segment's exact key count. An all-null/empty segment publishes
    * NO sidecar and is simply always read — the conservative rule.
    */
  private def writeBloomSidecar(spark: SparkSession, hfs: FileSystem,
                                path: String, c: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val segDf = spark.read.parquet(path)
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(segDf.schema(c).dataType),
      s"bloomCol '$c' must be integral (bloom keys hash as longs): " +
        segDf.schema(c).dataType)
    val keys = segDf.filter(col(c).isNotNull).select(col(c).cast("long").as(c))
    val n = keys.count()
    if (n > 0) {
      val b64 = java.util.Base64.getEncoder.encodeToString(
        graft.expressions.BloomKernels.serialize(
          keys.stat.bloomFilter(c, n, 0.01)))
      SmallFiles.publish(hfs, new HPath(path, BloomFile),
        s"""{"column": "$c", "n": $n, "fpp": 0.01, "bits_b64": "$b64"}""")
    }
  }

  /** The ONE reader of a segment's pruning evidence: the sidecar
    * `file` of `segment` if it exists, can be read and was built on
    * `column`. Anything else is no evidence, and no evidence never
    * clears a segment: every caller keeps (or rewrites) a segment it
    * cannot clear — a read or a rewrite too many, never a row missed.
    */
  private def sidecar(hfs: FileSystem, dir: String, segment: String,
                      file: String, column: String): Option[String] =
    try {
      val p = new HPath(s"$dir/data/$segment/$file")
      if (!hfs.exists(p)) None
      else Some(SmallFiles.read(hfs, p)).filter(json =>
        """"column"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json).exists(_.group(1) == column))
    } catch { case NonFatal(_) => None }

  /** `column`'s recorded [min, max] over `segment`. */
  private def statsRange(hfs: FileSystem, dir: String, segment: String,
                         column: String): Option[(Double, Double)] =
    sidecar(hfs, dir, segment, StatsFile, column).flatMap { json =>
      for {
        min <- DoubleField("min").findFirstMatchIn(json)
        max <- DoubleField("max").findFirstMatchIn(json)
      } yield (min.group(1).toDouble, max.group(1).toDouble)
    }

  // A JSON double as Scala's Double.toString emits it — including
  // scientific notation with NEGATIVE exponents ("1.0E-5").
  private def DoubleField(name: String) =
    ("\"" + name + """"\s*:\s*(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)""").r

  /** `column`'s bloom filter over `segment`'s keys. */
  private def bloomFilter(hfs: FileSystem, dir: String, segment: String,
                          column: String): Option[BloomFilter] =
    sidecar(hfs, dir, segment, BloomFile, column).flatMap { json =>
      """"bits_b64"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json).flatMap { m =>
        // a corrupt header can ask for an impossible bit array: an
        // OutOfMemoryError here is that allocation refused, not the heap
        try Some(graft.expressions.BloomKernels.deserialize(
          java.util.Base64.getDecoder.decode(m.group(1))))
        catch { case NonFatal(_) | _: OutOfMemoryError => None }
      }
    }

  // ---- snapshot-derived commits --------------------------------------

  /** One snapshot-DERIVED commit in the making (optimize, delete,
    * merge, restore): it resolves the head `base` and reads its
    * manifest once, writes its fresh segments for version `base + 1`
    * with the requested sidecars, and publishes through
    * [[publishDerived]] with the head's txn markers carried forward
    * (plus `txn`) — so every derived mode shares one conflict rule.
    */
  private final class Rewrite(spark: SparkSession, dir: String,
                              statsCol: Option[String] = None,
                              bloomCol: Option[String] = None,
                              txn: Option[(String, Long)] = None) {
    requireJsonSafe(statsCol, bloomCol, txn)
    val hfs: FileSystem = fs(spark, dir)
    val base: Long = head(hfs, dir)
    private val manifest = manifestJson(hfs, dir, base)
    /** The segments visible at `base`. */
    val segments: Seq[String] = segmentNames(manifest)

    /** A fresh segment for `base + 1`; see [[writeSegment]]. */
    def segment(tag: String)(write: String => Boolean): Option[String] =
      writeSegment(spark, hfs, dir, segmentName(base + 1, s"-$tag"), statsCol, bloomCol)(write)

    /** Publish `base + 1` listing `segs`; returns that version. */
    def publish(mode: String, segs: Seq[String], what: String): Long = {
      publishDerived(hfs, dir, base,
        renderManifest(base + 1, mode, segs, withTxn(txnsOf(manifest), txn)), what)
      base + 1
    }
  }

  /** Test seam: runs after a derived rewrite has read its snapshot and
    * written its segments, immediately before the manifest claim —
    * lets a spec interleave a competing commit deterministically.
    * Production no-op.
    */
  private[graft] var beforeDerivedClaim: () => Unit = () => ()

  /** Publish a SNAPSHOT-DERIVED commit (optimize / delete / merge /
    * restore): the caller read the table at `basedOn` and rewrote
    * state from it, so the ONLY safe slot is `basedOn + 1` — if any
    * other commit claimed it first, publishing anyway would silently
    * drop the winner's rows from the derived rewrite. Loses LOUDLY:
    * the caller re-derives from the new head and retries. The
    * caller's already-written segments stay invisible orphans for
    * [[vacuum]].
    */
  private def publishDerived(hfs: FileSystem, dir: String, basedOn: Long,
                             json: String, what: String): Unit = {
    beforeDerivedClaim()
    if (!claimSlot(hfs, dir, basedOn + 1, json))
      throw new java.util.ConcurrentModificationException(
        s"$what derived from version $basedOn of $dir, but a concurrent " +
          s"commit claimed version ${basedOn + 1} first — publishing would " +
          "silently drop that commit's rows; re-derive from the new head " +
          "and retry (the rewrite's segments are invisible orphans, " +
          "reclaimed by vacuum)")
  }

  // ---- the manifest log ----------------------------------------------

  private val VersionFile = """(\d+)\.json""".r

  /** Every committed version number under the log dir. */
  private def versions(hfs: FileSystem, dir: String): Seq[Long] = {
    val log = new HPath(s"$dir/_graft_log")
    if (!hfs.exists(log)) Seq.empty
    else hfs.listStatus(log).map(_.getPath.getName)
      .collect { case VersionFile(v) => v.toLong }.toSeq
  }

  /** The highest committed version; throws on a table never committed. */
  private def head(hfs: FileSystem, dir: String): Long =
    versions(hfs, dir).maxOption.getOrElse(
      throw new java.util.NoSuchElementException(s"no committed version under $dir"))

  private def segments(hfs: FileSystem, dir: String, v: Long): Seq[String] = {
    if (!hfs.exists(new HPath(s"$dir/_graft_log/$v.json")))
      throw new java.util.NoSuchElementException(s"version $v not found under $dir/_graft_log")
    segmentNames(manifestJson(hfs, dir, v))
  }

  private def manifestJson(hfs: FileSystem, dir: String, v: Long): String =
    SmallFiles.read(hfs, new HPath(s"$dir/_graft_log/$v.json"))

  /** The ONE manifest renderer, for every commit mode: version, mode,
    * the visible segments in order, and the writer txn markers sorted
    * by writer (the key is omitted when there are none).
    */
  private def renderManifest(v: Long, mode: String, segments: Seq[String],
                             txns: Map[String, Long]): String = {
    val segs = segments.map(s => s""""$s"""").mkString("[", ", ", "]")
    val markers =
      if (txns.isEmpty) ""
      else txns.toSeq.sortBy(_._1).map { case (a, s) => s""""$a": $s""" }
        .mkString(""", "txns": {""", ", ", "}")
    s"""{"version": $v, "mode": "$mode", "segments": $segs$markers}"""
  }

  /** `txns` with `txn`'s writer raised to at least its sequence number. */
  private def withTxn(txns: Map[String, Long], txn: Option[(String, Long)]): Map[String, Long] =
    txn.foldLeft(txns) {
      case (m, (app, seq)) => m.updated(app, math.max(seq, m.getOrElse(app, Long.MinValue)))
    }

  // Manifests are machine-written flat JSON (this object is the only
  // writer) — regex extraction, same contract as MedallionCatalog.
  private def segmentNames(json: String): Seq[String] =
    """"segments"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private def txnsOf(json: String): Map[String, Long] = {
    val mapForm = """"txns"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(json).map { m =>
      """"([^"]+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toLong).toMap
    }
    // legacy manifests (pre-carry-forward) recorded one marker as
    // txn_app/txn_version; still honored so an upgraded table never
    // silently drops replay protection
    lazy val legacyForm = for {
      app <- """"txn_app"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
      seq <- """"txn_version"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    } yield Map(app -> seq)
    mapForm.orElse(legacyForm).getOrElse(Map.empty)
  }

  /** CAS on the manifest slot: publish `content` as version `v`'s
    * manifest IFF no concurrent committer claimed `v` first; returns
    * whether THIS caller won. The content is fully written to a
    * writer-unique dot-tmp sibling before the claim, so the slot file
    * can never be observed half-written whoever wins.
    *
    * The atomic fail-if-exists primitive is store-specific — exactly
    * the "log-store CAS on the manifest slot" every table format
    * needs: on local filesystems, hard-LINK creation (POSIX link(2)
    * fails with EEXIST atomically — a plain rename would silently
    * OVERWRITE a concurrent winner's manifest, losing its commit);
    * on HDFS, the FileSystem.rename contract itself (rename onto an
    * existing destination fails, atomically in the NameNode). An
    * object store without either swaps this one method for a
    * conditional put (`If-None-Match: *`).
    */
  private def claimSlot(hfs: FileSystem, dir: String, v: Long, content: String): Boolean = {
    val dest = new HPath(s"$dir/_graft_log/$v.json")
    if (hfs.exists(dest)) return false // cheap pre-check; the claim below is the gate
    val tmp = new HPath(s"$dir/_graft_log/.$v.json.${nonce()}.tmp")
    SmallFiles.write(hfs, tmp, content)
    val claimed =
      if (hfs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else !hfs.exists(dest) && hfs.rename(tmp, dest)
    hfs.delete(tmp, false) // no-op where the rename already consumed it
    claimed
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
