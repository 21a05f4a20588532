package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-side of the medallion lake: partition discovery from the
  * `dataset=…/k=v/…` directory layout plus `_meta.json` sidecar
  * validation (reference: src/silver/catalog.py:31-141,
  * build_catalog.py) — the reference's lake_catalog.json is derived
  * state; the directory tree and the per-partition sidecars are the
  * source of truth, so discovery walks those directly.
  *
  * All listing goes through the Hadoop FileSystem API (works on
  * HDFS/S3/local alike); listing cost is proportional to the number
  * of PARTITIONS, never rows. Validation compares the sidecar's
  * authoritative row_count against the parquet row count in ONE
  * Spark job over the whole dataset (per-partition counts come from
  * a partition-column groupBy, which parquet serves from footer
  * metadata after pruning all data columns).
  */
object MedallionCatalog {

  final case class PartitionInfo(
      dataset: String, partitionPath: String, values: Map[String, String],
      metaRowCount: Option[Long], metaColumns: Seq[String])

  private def fs(spark: SparkSession, root: String): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Discover the leaf partitions of `dataset` under `root`: every
    * directory chain of `k=v` segments that holds parquet files,
    * with its `_meta.json` sidecar (row_count, columns) when present.
    */
  def partitions(spark: SparkSession, root: String, dataset: String): Seq[PartitionInfo] = {
    val base = new HPath(s"$root/dataset=$dataset")
    val hfs = fs(spark, root)
    if (!hfs.exists(base)) return Seq.empty
    val out = ArrayBuffer.empty[PartitionInfo]
    def walk(dir: HPath, values: Seq[(String, String)]): Unit = {
      val entries = hfs.listStatus(dir)
      val subdirs = entries.filter(e => e.isDirectory &&
        e.getPath.getName.contains("="))
      val hasParquet = entries.exists(e => e.isFile &&
        e.getPath.getName.endsWith(".parquet"))
      if (hasParquet || subdirs.isEmpty) {
        val meta = readMeta(hfs, new HPath(dir, "_meta.json"))
        out += PartitionInfo(dataset,
          dir.toUri.getPath.stripPrefix(new HPath(root).toUri.getPath).stripPrefix("/"),
          values.toMap, meta.flatMap(_._1), meta.map(_._2).getOrElse(Seq.empty))
      }
      subdirs.foreach { d =>
        val Array(k, rawV) = d.getPath.getName.split("=", 2)
        // decode Spark's partition-path encoding so `values` carries
        // LOGICAL values (null for the default-partition marker)
        val v =
          if (rawV == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else ExternalCatalogUtils.unescapePathName(rawV)
        walk(d.getPath, values :+ (k -> v))
      }
    }
    walk(base, Seq.empty)
    out.toSeq.sortBy(_.partitionPath)
  }

  /** Validate every discovered partition: parquet row count (one
    * footer-served Spark job for the whole dataset) vs the sidecar's
    * authoritative row_count, as a DataFrame of
    * (partition_path, parquet_rows, meta_rows, row_count_ok).
    * Partitions without a sidecar surface with meta_rows NULL and
    * row_count_ok NULL (unknown, not failed) — the reference falls
    * back to its catalog estimate in that case.
    */
  def validate(spark: SparkSession, root: String, dataset: String,
               partitionCols: Seq[String]): DataFrame = {
    val infos = partitions(spark, root, dataset)
    // Inference-free read: the sidecar side carries the verbatim
    // directory strings, so the parquet side must too — an inferred
    // read turns a string partition "01" into int 1 and the cast back
    // to string ("1") can never match its own directory's sidecar.
    // Runs on a session clone (MedallionSink.readNoInfer), never a
    // set/restore on the caller's shared conf — every frame below is
    // built on the SAME clone so the plan resolves in one session.
    val raw = MedallionSink.readNoInfer(spark, s"$root/dataset=$dataset")
    val sess = raw.sparkSession
    val counted = raw
      .groupBy(partitionCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(count(lit(1)).as("parquet_rows"))
    val metaRows = infos.map { p =>
      Row.fromSeq(partitionCols.map(c => p.values.get(c).orNull) :+
        p.metaRowCount.map(java.lang.Long.valueOf).orNull :+ p.partitionPath)
    }
    val metaSchema = StructType(
      partitionCols.map(StructField(_, StringType)) :+
        StructField("meta_rows", LongType) :+
        StructField("partition_path", StringType))
    val meta = sess.createDataFrame(
      sess.sparkContext.parallelize(metaRows, 1), metaSchema)
    // Null-safe join keys: the default (null-valued) partition must
    // line up with its sidecar, not fan out into two unmatched rows.
    val m = broadcast(meta)
    val cond = partitionCols.map(c => counted(c) <=> m(c)).reduce(_ && _)
    counted.join(m, cond, "full_outer")
      .select(
        partitionCols.map(c => coalesce(counted(c), m(c)).as(c)) ++
          Seq(coalesce(col("parquet_rows"), lit(0L)).as("parquet_rows"),
            col("meta_rows"), col("partition_path")): _*)
      .withColumn("row_count_ok",
        when(col("meta_rows").isNull, lit(null).cast("boolean"))
          .otherwise(col("meta_rows") === col("parquet_rows")))
  }

  /** Partitioned read of a dataset — partition-column filters applied
    * by the caller prune directories before any data IO (standard
    * Spark partition pruning; proven in SourcesSpec).
    */
  def read(spark: SparkSession, root: String, dataset: String): DataFrame =
    spark.read.parquet(s"$root/dataset=$dataset")

  /** Assert all sidecar-covered partitions match; returns the
    * validation frame for the run log. Mirrors the reference's
    * valid+invalid==read count assertion discipline at load time.
    */
  def validateOrThrow(spark: SparkSession, root: String, dataset: String,
                      partitionCols: Seq[String]): DataFrame = {
    val v = validate(spark, root, dataset, partitionCols)
    val bad = v.filter(col("row_count_ok") === false).count()
    require(bad == 0, s"$bad partition(s) of dataset=$dataset fail the " +
      "sidecar row-count assertion — refusing the load")
    v
  }

  private def readMeta(hfs: FileSystem, p: HPath): Option[(Option[Long], Seq[String])] = {
    if (!hfs.exists(p)) return None
    val text = SmallFiles.read(hfs, p)
    // A sidecar without row_count (the reference's extract step may
    // write columns only) is UNKNOWN, not a count of -1 — it must
    // surface as NULL in validate, never as a hard mismatch.
    Some((extractLong(text, "row_count"), extractColumns(text)))
  }

  // _meta.json is machine-written flat JSON (MedallionSink / the
  // reference's extract step); field extraction keeps this dependency-
  // free. Empty column names are filtered like the reference's
  // _filter_columns (the trailing '' column in viajes).
  private def extractLong(json: String, field: String): Option[Long] =
    s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  private def extractColumns(json: String): Seq[String] =
    """"columns"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1).split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.trim.nonEmpty))
      .getOrElse(Seq.empty)
}
