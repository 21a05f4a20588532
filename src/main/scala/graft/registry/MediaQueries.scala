package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._

import Shared._

/** Features decoded from binary media. No SQL can replay a decode, so
  * every record here is rows-only.
  */
private[graft] object MediaQueries {

  def records: Seq[Query] = Seq(
    Query("multimodal_features", ((s: SparkSession, d: String) =>
      Multimodal.featuresOf(t(s, d, "documents").select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("media"),
        lit("txt").as("format")))),
      RowsOnly("binary: image, audio and video byte decode",
        pinnedBy = "SourcesSpec")),

    // REAL video frame features: every 16th embedding renders to a
    // 4-frame Motion-JPEG AVI (rotated gray tiles — deterministic,
    // distinct frames), the RIFF demux extracts the actual frame
    // payloads and javax.imageio decodes each sampled frame. Rows-only
    // by protocol (binary decode); demux + round-trip spec-pinned.
    Query("video_frame_features", ((s: SparkSession, d: String) => {
      import s.implicits._
      val rows = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])]
        .filter(_._1 % 16 == 0)
        .map { case (id, v) =>
          val frames = (0 until 4).map(j =>
            Multimodal.grayJpeg8x8(v.drop(j * 4) ++ v.take(j * 4)))
          Multimodal.MediaRow(id, Multimodal.mjpegAvi(frames.toSeq), "avi")
        }
      Multimodal.videoFrameFeatures(rows, k = 2).toDF()
        .orderBy(col("media_id"), col("frame_ix"))
    }),
      RowsOnly("binary: RIFF demux and per-frame JPEG decode",
        pinnedBy = "SourcesSpec")),

    // Image near-dup dedup: embeddings render to REAL 8x8 grayscale
    // PNGs (every 20th vector additionally renders a one-component-
    // jittered clone at id+10^6 — the planted near-dup truth, the
    // dedup_recall_eval discipline), decode back through
    // javax.imageio, hash with the integer-exact average-hash, and
    // pair through the shared 64-bit banded hamming sweep. Rows-only
    // by protocol (binary decode); kernel + banding spec-pinned.
    Query("image_ahash_dedup", ((s: SparkSession, d: String) => {
      import s.implicits._
      val rows = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])]
        .flatMap { case (id, v) =>
          val orig = Multimodal.MediaRow(id, Multimodal.grayPng8x8(v), "png")
          if (id % 20 == 0) {
            val jittered = v.toArray; jittered(0) += 0.02
            Seq(orig, Multimodal.MediaRow(id + 1000000L,
              Multimodal.grayPng8x8(jittered.toSeq), "png"))
          } else Seq(orig)
        }
      TextDedup.hammingPairs64(Multimodal.aHashes(rows).toDF(),
        "media_id", "ahash", maxHamming = 4)
    }),
      RowsOnly("binary: real PNG decode and a perceptual hash",
        pinnedBy = "SourcesSpec")),

    // Spectral band energies over REAL WAV decode: embeddings render
    // to actual 16-bit PCM WAV (period = vector dim, so the spectrum
    // concentrates on the dim's harmonics), decode through
    // javax.sound, in-JVM radix-2 FFT, one flat row per band.
    // Rows-only by protocol (binary decode); FFT + band fold
    // spec-pinned on known tones.
    Query("audio_spectral_bands", ((s: SparkSession, d: String) => {
      import s.implicits._
      val rows = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])]
        .map { case (id, v) =>
          val samples = Array.tabulate(1024)(i => v(i % v.length)).toSeq
          Multimodal.MediaRow(id, Multimodal.wavPcm16(samples, 8000), "wav")
        }
      Multimodal.spectralBands(rows).toDF()
    }),
      RowsOnly("binary: WAV decode and an in-JVM FFT",
        pinnedBy = "SourcesSpec")),

    // Per-channel color statistics over REAL PNG decode (R/G/B means
    // + luma-std contrast proxy, the flat/blank-asset gate input) —
    // same bounded-pixel decode discipline as multimodal_features.
    // Rows-only by protocol (binary decode); exactness spec-pinned.
    Query("image_color_stats", ((s: SparkSession, d: String) => {
      import s.implicits._
      val rows = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])]
        .map { case (id, v) =>
          Multimodal.MediaRow(id, Multimodal.grayPng8x8(v), "png")
        }
      Multimodal.colorStats(rows).toDF()
    }),
      RowsOnly("binary: real PNG decode",
        pinnedBy = "SourcesSpec"))
  )
}
