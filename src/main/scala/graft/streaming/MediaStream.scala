package graft.streaming

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming media ingest (§2.10 × multimodal): the decode tier is
  * per-row and stateless, so the REAL codecs (WAV/PCM, G.711, ADPCM,
  * FLAC, JPEG-family, MJPEG) compose with Structured Streaming
  * unchanged — micro-batches of opaque media bytes decode executor-side
  * and fold into running aggregates. A corrupt payload decodes to the
  * zero-sample row (the batch contract), never a stream-killing error.
  */
object MediaStream {

  /** Running per-sample-rate quality aggregate over the decoded stream
    * (stateful, update mode): clip count, total decoded samples, mean
    * RMS. The place a media-ingest pipeline watches encoder drift.
    */
  def audioQualityByRate(media: Dataset[Multimodal.Media]): DataFrame =
    Multimodal
      .extractAudioFeatures(media)
      .groupBy(col("sample_rate"))
      .agg(
        count(lit(1)).as("n_clips"),
        sum(col("n_samples")).as("total_samples"),
        round(avg(col("rms")), 6).as("avg_rms"))
}
