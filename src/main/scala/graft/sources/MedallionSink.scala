package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Medallion-layout partitioned sink + quality JSON sidecar
  * (reference: src/silver/transforms.py:136-154, 202-207).
  *
  * Data lands as ZSTD parquet under `dataset=<name>/<partition cols>`;
  * Spark's commit protocol makes the parquet write itself atomic. The
  * quality sidecar is written tmp+rename like the reference's atomic
  * JSON writes, through the dataset's own FileSystem
  * ([[SmallFiles.publish]]). Row count comes from a post-write
  * metadata-only scan (parquet footers), not a second full pass over
  * the data.
  */
object MedallionSink {

  def write(df: DataFrame, root: String, dataset: String,
            partitionCols: Seq[String],
            extraStats: Map[String, Long] = Map.empty): Long = {
    val target = s"$root/dataset=$dataset"
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(target)
    val rows = df.sparkSession.read.parquet(target).count()
    val stats = Map("dataset" -> s""""$dataset"""", "rows_written" -> rows.toString) ++
      extraStats.map { case (k, v) => k -> v.toString }
    val json = stats.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val quality = new Path(target, "_quality.json")
    SmallFiles.withPlainFs(quality, df.sparkSession.sparkContext.hadoopConfiguration) {
      SmallFiles.publish(_, quality, json, replace = true)
    }
    writeMetaSidecars(df, target, partitionCols)
    rows
  }

  /** Physical cut replacement: dynamic partition overwrite — ONLY the
    * partition directories present in `df` are rewritten; every other
    * partition's files are untouched (the reference's
    * delete-cut-then-reload, models/gold/cleanup_cut.sql, without a
    * full-dataset rewrite). Sidecars refresh from the written files'
    * footer counts (untouched partitions rewrite byte-identical
    * sidecars). Logical twin: graft.operators.Merge.replaceCut.
    */
  def overwritePartitions(df: DataFrame, root: String, dataset: String,
                          partitionCols: Seq[String]): Unit = {
    val target = s"$root/dataset=$dataset"
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(target)
    writeMetaSidecars(df, target, partitionCols)
  }

  /** Suffixes of the crash-safe swap protocol — single source of
    * truth; recovery in [[recoverSwap]] depends on every site
    * agreeing on these exact strings.
    */
  private[sources] val TmpSuffix = ".__graft_tmp"
  private[sources] val OldSuffix = ".__graft_old"

  /** The (writer, batch id) marker a replay-guarded writer records
    * inside its target ([[replaceDir]]'s `marker`, read back by
    * [[lastBatch]]). The leading '_' hides it from parquet reads; it
    * travels with every swap, [[compact]]'s included.
    */
  private val CommitFile = "_graft_commit.json"

  /** Small-file compaction — the lake-maintenance operator every
    * incremental load pattern eventually needs (each micro-batch /
    * cut append leaves files sized by arrival, and a year of loads
    * turns scans into open-file storms). Rewrites the dataset with
    * one task per partition-directory group (`repartition` on the
    * partition columns: every directory's rows land in exactly one
    * task, so each directory compacts to ONE file) into a tmp
    * directory, then crash-safe-swaps it in ([[replaceDir]]) — never
    * a same-path overwrite, never a whole-lake materialization in
    * memory. Directories so large that one file is wrong belong to a
    * cut-partitioned layout (finer partitionCols), not a bigger
    * compactor.
    *
    * Partition values are read with type inference DISABLED (as
    * strings): directory names then round-trip VERBATIM — with
    * inference on, a string partition value "01" would silently
    * rewrite as directory month=1 with an int column. Data columns
    * keep their footer schema either way; a post-compaction read
    * re-infers partition types exactly as before.
    *
    * Sidecars (`_meta.json` per partition + the dataset's
    * `_quality.json`) are placed INTO the tmp directory BEFORE the
    * swap, so the swap carries data and metadata together — a crash
    * at any point leaves either the full old state or the full new
    * state, never data without its row-count contract.
    *
    * Returns (files before, files after) for the run log.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String, dataset: String,
              partitionCols: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val target = s"$root/dataset=$dataset"
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles: Long = {
      val it = fs.listFiles(new Path(target), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = replaceDir(spark, target) { tmp =>
      val n = nFiles
      readNoInfer(spark, target)
        .repartition(partitionCols.map(col): _*)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(partitionCols: _*)
        .parquet(tmp)
      writeMetaSidecars(readNoInfer(spark, tmp), tmp, partitionCols)
      // Preserve EVERY top-level underscore sidecar the rewrite did not
      // regenerate (hidden to parquet reads, but load-bearing state):
      // `_quality.json`, and on a stream-maintained target the
      // `_graft_obs/` watermark dir + `_graft_commit.json` batch marker —
      // losing those would degrade the SCD2 re-observation guard and
      // re-enable double-apply of a replayed batch id after a compaction.
      fs.listStatus(new Path(target))
        .filter(_.getPath.getName.startsWith("_"))
        .filterNot(s => fs.exists(new Path(tmp, s.getPath.getName)))
        .foreach { s =>
          org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
            new Path(tmp, s.getPath.getName), false,
            spark.sparkContext.hadoopConfiguration)
        }
      n
    }
    (before, nFiles)
  }

  /** THE crash-safe replacement of directory `target`, shared by
    * [[compact]] and the streaming sinks' upsert: heal whatever a
    * crashed earlier swap left ([[recoverSwap]]), let `fill` write the
    * new contents — data plus any sidecars that must replace
    * atomically with it — into `target + TmpSuffix`, then swap that in
    * ([[swapDirs]]; a plain delete-then-rename would lose the WHOLE
    * table to a crash between the two calls). `fill` runs on the
    * healed target, so it may read the current contents — the tmp
    * write never overwrites the files it reads; its result is
    * returned. `marker = Some((writer, batchId))` also records that
    * batch in the new contents' commit marker, so data and marker
    * replace together.
    */
  private[graft] def replaceDir[A](spark: org.apache.spark.sql.SparkSession, target: String,
                                   marker: Option[(String, Long)] = None)
                                  (fill: String => A): A = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, target)
    val tmp = target + TmpSuffix
    val out = fill(tmp)
    marker.foreach { case (writer, batchId) =>
      SmallFiles.write(fs, new Path(tmp, CommitFile),
        s"""{"batch_id": $batchId, "query_id": "$writer"}""")
    }
    swapDirs(fs, target)
    out
  }

  /** The last batch id `writer` recorded in `target` through
    * [[replaceDir]]'s marker; None without a marker, or with another
    * writer's (a marker that names no writer included). Heals a
    * half-finished swap first, like every entry into the protocol: a
    * target renamed aside by a crash must be read, not missed.
    */
  private[graft] def lastBatch(spark: org.apache.spark.sql.SparkSession, target: String,
                               writer: String): Option[Long] = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, target)
    val p = new Path(target, CommitFile)
    if (!fs.exists(p)) return None
    val text = SmallFiles.read(fs, p)
    val q = """"query_id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
    if (!q.contains(writer)) None
    else """"batch_id"\s*:\s*(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
  }

  /** Crash-safe replacement of `target` by `target + TmpSuffix`:
    * rename target aside, rename tmp in, drop the old copy — every
    * rename CHECKED (a false return throws instead of dropping data),
    * every intermediate state recoverable by [[recoverSwap]]. Called
    * only by [[replaceDir]].
    *
    * ASSUMPTIONS (hold for HDFS / local FS, the container for
    * durability here is a filesystem with atomic directory rename):
    *  - single writer — callers are a lake-maintenance job or a
    *    streaming sink, both serialized by their own scheduling;
    *  - no concurrent READER during the swap: between the two renames
    *    the target path briefly does not exist, so a live reader can
    *    fail transiently (readers should retry-on-missing, or the
    *    deployment serializes maintenance against reads);
    *  - object stores without atomic rename (S3) need a manifest/
    *    table-format commit instead — on such a lake this operator's
    *    body is a transactional REPLACE TABLE, not directory renames.
    */
  private[sources] def swapDirs(fs: org.apache.hadoop.fs.FileSystem, target: String): Unit = {
    val tPath = new Path(target)
    val tmpPath = new Path(target + TmpSuffix)
    val oldPath = new Path(target + OldSuffix)
    def renameOrThrow(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"swapDirs: rename $from -> $to failed")
    val existed = fs.exists(tPath)
    if (existed) renameOrThrow(tPath, oldPath)
    renameOrThrow(tmpPath, tPath)
    if (existed) fs.delete(oldPath, true)
  }

  /** Recovery from a crash mid-[[swapDirs]]: target missing but the
    * old copy present (died between the two renames) -> restore it;
    * both present (died before the old copy was dropped) -> drop the
    * leftover.
    */
  private[sources] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, target: String): Unit = {
    val tPath = new Path(target)
    val oldPath = new Path(target + OldSuffix)
    if (!fs.exists(tPath) && fs.exists(oldPath)) {
      if (!fs.rename(oldPath, tPath))
        throw new java.io.IOException(s"recoverSwap: restore $oldPath -> $tPath failed")
    } else if (fs.exists(tPath) && fs.exists(oldPath)) fs.delete(oldPath, true)
  }

  /** Bucketed table write: rows are co-located by hash(bucketCols) at
    * WRITE time, so every later join or aggregation on the bucket key
    * plans with ZERO exchanges — the 100-TB shape for recurring
    * fact-fact joins (grain merges, as-of staging) where re-shuffling
    * the fact on every run is the dominant cost. The same columns are
    * `sortBy`-ed so sort-merge joins skip their per-task sorts too.
    * Goes through `saveAsTable` because bucket metadata must live in a
    * catalog for the reader to trust it (a bare parquet path carries
    * no bucketing contract). BucketingSpec pins the exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .format("parquet").option("compression", "zstd")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Range-clustered write (Z-order-lite for one dimension): rows are
    * range-partitioned then sorted on the cluster key, so every output
    * file — and every row group inside it — covers a DISJOINT key
    * range. Parquet stores per-row-group min/max statistics; a scan
    * with a pushed key predicate then skips every row group whose
    * range cannot match, turning point/range lookups over a 100-TB
    * table into reads of a handful of row groups. (The bucketed-table
    * writer optimizes recurring JOINS on the key; this layout
    * optimizes selective FILTERS — complementary, not redundant.)
    * ClusteringSpec proves file-level range disjointness from the
    * parquet footers and the pushed filter at the scan.
    */
  def writeClustered(df: DataFrame, path: String, clusterCol: String,
                     nFiles: Int): Unit =
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** Training-shard writer — [[graft.operators.Sampling.corpusShuffle]]'s
    * end-to-end consumer: the corpus is written as `shard=K/`
    * partition directories in the deterministic md5 permutation
    * order, rows inside each shard carrying their 1-based
    * `shard_pos`. A training job reads shards in directory order and
    * rows in `shard_pos` order and replays the EXACT global
    * permutation — reproducibly, resumable mid-epoch at any shard
    * boundary.
    *
    * Scale shape: corpusShuffle's output is already RANGE-LAID by
    * permutation position (its prefix-sum layout), and `shard` is a
    * monotone function of position — so the dynamic-partition write
    * needs NO further shuffle or sort: each task emits its contiguous
    * run of shards. A shard straddling a range boundary splits into
    * ≤ 2 files (the documented slop — file count ≤ #shards +
    * #range-partitions), every other shard is exactly one file of
    * `shardSize` rows.
    */
  def writeTrainingShards(df: DataFrame, path: String, keyCol: String,
                          shardSize: Int): Unit =
    graft.operators.Sampling.corpusShuffle(df, keyCol, shardSize)
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("shard").parquet(path)

  /** TRUE multi-dimension clustering (Z-order): the write key is the
    * bit-interleaving of the two cluster columns' bucket indexes, so
    * file locality holds on BOTH dimensions at once — a selective
    * footer-pruned filter on EITHER column skips most files.
    * [[writeClustered]] on x gives perfect x pruning and ZERO y
    * pruning; the Z curve trades a little of each for both (each file
    * covers one aligned square tile of the 2-D bucket space).
    *
    * Bucket indexes come from ONE broadcast min/max panel + the same
    * FLOOR arithmetic as the histogram profile; the interleave is a
    * pure bitwise expression tree inside whole-stage codegen (2·bits
    * shift/mask/or terms — no UDF, no row objects). ZOrderSpec proves
    * the footer pruning on both dimensions from the written files.
    */
  def writeZOrdered(df: DataFrame, path: String, colX: String, colY: String,
                    nFiles: Int, bits: Int = 12): Unit =
    writeZOrderedN(df, path, Seq(colX, colY), nFiles, bits)

  /** N-dimension generalization of [[writeZOrdered]]: the write key
    * interleaves one bit per dimension per level (dimension j
    * contributes bit i at position `k·i + j`), so each file covers an
    * aligned k-dimensional tile and a selective filter on ANY of the
    * k columns footer-prunes most files. Same machinery as 2-D: one
    * broadcast min/max panel, FLOOR bucket arithmetic, a pure bitwise
    * codegen tree (k·bits shift/mask/or terms), range-partitioned
    * sorted write. Pruning power per dimension decays as k grows —
    * a file tile spans 2^(bits - fileBits/k) buckets per dimension,
    * so each added dimension widens every tile edge — keep k small
    * (2-4) and include only genuinely-filtered columns.
    */
  def writeZOrderedN(df: DataFrame, path: String, cols: Seq[String],
                     nFiles: Int, bits: Int = 12): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val k = cols.size
    require(k >= 2, s"Z-order needs >= 2 columns, got $cols")
    require(bits >= 1 && k * bits <= 60,
      s"k*bits=${k * bits} exceeds the 60-bit long budget (k=$k, bits=$bits)")
    val buckets = 1L << bits
    val bounds = df.agg(
      min(col(cols.head)).cast("double").as(s"__mn_0"),
      (max(col(cols.head)).cast("double").as(s"__mx_0") +:
        cols.tail.zipWithIndex.flatMap { case (c, j) =>
          Seq(min(col(c)).cast("double").as(s"__mn_${j + 1}"),
            max(col(c)).cast("double").as(s"__mx_${j + 1}"))
        }): _*)
    def bucketIx(v: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        least(lit(buckets - 1),
          floor((v.cast("double") - mn) / ((mx - mn) / buckets)).cast("long")))
    val ixs = cols.zipWithIndex.map { case (c, j) =>
      bucketIx(col(c), col(s"__mn_$j"), col(s"__mx_$j"))
    }
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      ixs.zipWithIndex.foldLeft(acc) { case (a, (bx, j)) =>
        a.bitwiseOR(shiftleft(shiftright(bx, i).bitwiseAND(lit(1L)), k * i + j))
      }
    }
    val boundCols = cols.indices.flatMap(j => Seq(s"__mn_$j", s"__mx_$j"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__graft_z", z)
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z" +: boundCols: _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
  }

  /** Read back a partitioned dataset with partition-column type
    * inference DISABLED (values stay the verbatim directory strings).
    * Sidecar directory names are regenerated from the partition
    * VALUES — with inference on, a string partition "01" reads back
    * as int 1 and the sidecar lands in a phantom `month=1` directory
    * next to the real `month=01`.
    *
    * The no-inference conf lives on a session CLONE (`newSession`
    * shares the SparkContext but isolates SQL conf) — a set/restore
    * on the shared session would leak inference-off to any concurrent
    * read during the window, and two concurrent flips could clobber
    * the restored value.
    */
  private[sources] def readNoInfer(spark: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    s.read.parquet(path)
  }

  /** Per-partition `_meta.json` sidecars (authoritative row_count +
    * column list — the reference's bronze sidecar contract, served to
    * graft.sources.MedallionCatalog's read-side validation). Counts
    * come from ONE aggregate over the parquet JUST WRITTEN (footer
    * metadata — never a recompute of the input pipeline, which would
    * double the load's cost and could even disagree with the files if
    * the source moved); only #partitions rows reach the driver.
    * Directory names go through Spark's own partition-path escaping,
    * so special characters and NULL values land next to the data
    * files Spark wrote, not in a parallel unescaped tree.
    *
    * The sidecars are written FROM THE EXECUTORS: the per-partition
    * counts stay a distributed frame and each task publishes the
    * sidecars for the count rows it holds ([[SmallFiles.publish]],
    * through the TABLE'S Hadoop FileSystem). The driver
    * never loops over partitions — at 100k partitions the old
    * collect()-then-write loop was a driver-bound O(#partitions) I/O
    * serialization; this form spreads the I/O across the cluster and
    * the driver sees only task completions. (Counts are one row per
    * partition — tiny — so the collect() itself was fine; the
    * sequential WRITES were not.) The Hadoop conf travels to tasks as
    * a plain key-value array (Configuration itself isn't
    * serializable) and is rebuilt once per task.
    */
  private def writeMetaSidecars(df: DataFrame, target: String,
                                partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dataCols = df.columns.filterNot(partitionCols.contains).toSeq
    val colsJson = dataCols.map(c => s""""$c"""").mkString("[", ", ", "]")
    val pCols = partitionCols
    val tgt = target
    val hadoopConfKv: Array[(String, String)] = {
      val it = df.sparkSession.sparkContext.hadoopConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    readNoInfer(df.sparkSession, target)
      .groupBy(partitionCols.map(c => col(c).cast("string")): _*)
      .agg(count(lit(1)).as("__n"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        if (rows.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          hadoopConfKv.foreach { case (k, v) => conf.set(k, v) }
          val base = new Path(tgt)
          SmallFiles.withPlainFs(base, conf) { hfs =>
            rows.foreach { r =>
              val dir = pCols.zipWithIndex.map { case (c, i) =>
                val v = r.getString(i)
                if (v == null) s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
                else s"$c=${ExternalCatalogUtils.escapePathName(v)}"
              }.mkString("/")
              val n = r.getLong(pCols.length)
              SmallFiles.publish(hfs, new Path(base, s"$dir/_meta.json"),
                s"""{"row_count": $n, "columns": $colsJson}""", replace = true)
            }
          }
        }
      }
  }
}
