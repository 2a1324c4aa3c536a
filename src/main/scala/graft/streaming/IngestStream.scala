package graft.streaming

import java.time.Instant

import graft.ingest._
import graft.model.Schemas.{BackendDocument, UpdateConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

/** Continuous ingest: the reference is a single-shot batch job re-run per
  * control file (SURVEY.md §3.1); this wrapper turns the same
  * new-document pipeline into a Structured Streaming job that watches
  * the control-file directory and processes each arriving file exactly
  * once (file-source checkpointing), writing the same per-document
  * parser-input records and blobs.
  *
  * Shape: `readStream` (file source, one row per control file) →
  * `foreachBatch` running the SAME batch stage (explode → one effectful
  * fetch/upload/parser-input partition stage) — the unified-API pattern
  * that keeps one implementation for both deployment modes. Updates stay
  * batch-only: their strict per-document ordering against new-doc
  * ingestion (SURVEY.md §2 O2) has no streaming analogue in the reference.
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
    val control = spark.readStream
      .schema(ControlFile.pipelineUpdatesSchema)
      .option("multiLine", true)
      // strict like the batch path: a malformed control file must fail
      // the batch loudly, not be checkpoint-committed as 0 documents
      .option("mode", "FAILFAST")
      .json(s"${cfg.pipelineRoot}/$inputGlob")

    control.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val outcomes = NewDocuments.ingestBatch(
          batch, cfg, fetcher, converter, clock(), conf)
        System.err.println(s"[ingest-stream] batch $batchId: " +
          s"${outcomes.size} documents, " +
          s"${outcomes.count(_.error.isDefined)} errors")
        ()
      }
      .start()
  }
}
