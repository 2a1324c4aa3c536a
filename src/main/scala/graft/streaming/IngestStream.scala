package graft.streaming

import java.time.Instant

import graft.ingest._
import graft.model.Schemas.UpdateConfig
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

/** Continuous ingest: the reference is a single-shot batch job re-run per
  * control file (SURVEY.md §3.1); this wrapper turns the same
  * new-document pipeline into a Structured Streaming job that watches
  * the control-file directory and processes each arriving file exactly
  * once (file-source checkpointing), writing the same per-document
  * parser-input records and blobs.
  *
  * Shape: [[ControlFile.readStream]] (file source, one row per control
  * file, the batch read's settings) → [[Streams.perBatch]] running the
  * SAME batch code: the batch's rows are collected once
  * ([[ControlFile.collectRows]], the batch's files' documents in row
  * order) and [[NewDocuments.ingestBatch]] runs them as
  * one shuffle-free job of one stage, or none when the batch announces
  * no new documents — the unified-API pattern that keeps one
  * implementation for both deployment modes. The driver holds one
  * batch's control rows at a time. Updates stay batch-only: their strict
  * per-document ordering against new-doc ingestion (SURVEY.md §2 O2) has
  * no streaming analogue in the reference.
  */
object IngestStream {

  /** Start the stream. Control files appearing under
    * `{pipelineRoot}/{inputGlob}` are parsed and their new documents
    * ingested each micro-batch.
    *
    * @param clock per-BATCH run timestamp (watermark text / archive
    *              paths) — evaluated for every micro-batch, matching the
    *              batch-per-run model where each run gets a fresh
    *              timestamp; tests pass a fixed supplier
    */
  def start(
      spark: SparkSession,
      cfg: UpdateConfig,
      inputGlob: String,
      checkpointDir: String,
      fetcher: Fetcher,
      converter: Converter,
      clock: () => Instant = () => Instant.now(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val control =
      ControlFile.readStream(spark, s"${cfg.pipelineRoot}/$inputGlob")
    Streams.perBatch(control) { batch =>
      NewDocuments.ingestBatch(spark, ControlFile.collectRows(batch)._1,
        cfg, fetcher, converter, clock(), conf)
    } { (outcomes, batchId) =>
      System.err.println(s"[ingest-stream] batch $batchId: " +
        s"${outcomes.size} documents, " +
        s"${outcomes.count(_.error.isDefined)} errors")
    }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
