package graft.ingest

import java.time.Instant

import scala.reflect.ClassTag

import graft.model.Schemas.{IngestResult, UpdateConfig}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Two-phase ingest driver (SURVEY.md §2 O1–O5, §3.1).
  *
  * One `collect` brings the control rows to the driver
  * ([[ControlFile.collectRows]]); nothing is cached. Phase 1 (updates)
  * runs TO COMPLETION before phase 2 (new documents) starts — the barrier
  * is a correctness property (a new doc and an update to the same id must
  * not race, reference `main.py:164-229`). Each phase is one shuffle-free
  * job of one stage: [[slices]] cuts its rows, and one `collect` at the
  * phase's own call site runs them; a phase with no rows runs no job.
  * Per-row failures become [[errorText]] strings in `IngestResult.error`
  * and the job always completes
  * (reference `main.py:184-196,221-227`; exit 0 asserted by
  * `test_integration.py:440,494`). Trade-off: the driver holds the control
  * rows, as the one task that `multiLine` reads a whole file in already did.
  */
object IngestJob {

  /** One run's outcome: the report rows plus where they were written. */
  case class RunReport(results: Seq[IngestResult], reportPath: String)

  /** The slicing policy of both phases: `parallelize` cuts `rows` into
    * contiguous slices, at most one per task slot, and one effectful
    * `mapPartitions` runs `f` on each row with the executor's Hadoop
    * configuration. The caller's `collect` is the phase's one action.
    */
  def slices[T: ClassTag](sc: SparkContext, rows: Seq[T],
      conf: SerializableConfiguration)(
      f: (T, Configuration) => IngestResult): RDD[IngestResult] =
    sc.parallelize(rows, math.min(rows.size, sc.defaultParallelism))
      .mapPartitions { it =>
        val c = conf.value
        it.map(f(_, c))
      }

  /** A per-row failure as report text, `"Type: message"`
    * (reference `main.py:221-227`).
    */
  def errorText(e: Exception): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Execute a full ingest run against `cfg.pipelineRoot`.
    *
    * @param inputDirPath  directory (under pipelineRoot) holding the
    *                      control file, e.g. `input/2022-11-01T21.53...`
    * @param updatesFileName control-file name within inputDirPath
    */
  def run(
      spark: SparkSession,
      cfg: UpdateConfig,
      inputDirPath: String,
      updatesFileName: String,
      fetcher: Fetcher,
      converter: Converter,
      runTs: Instant): RunReport = {
    val sc = spark.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val (newDocs, updates) = ControlFile.collectRows(ControlFile.read(
      spark, s"${cfg.pipelineRoot}/$inputDirPath/$updatesFileName"))

    // ---- phase 1: updates --------------------------------------------
    // One row = one document with its grouped actions, so the
    // per-document sequential semantics (U1) survive any slicing.
    val updateReport: Seq[IngestResult] = if (updates.isEmpty) Nil else
      slices(sc, updates, conf) { case ((documentId, docUpdates), c) =>
        try {
          val actionResults =
            Updates.updateDocument(documentId, docUpdates, cfg, runTs, c)
          // per-action error lists do NOT fail the document (reference
          // main.py:184-196 discards them too), but they are logged
          actionResults.filter(_.error != "[]").foreach { r =>
            JsonLog.error("updated_document_actions",
              s"update action '${r.update_type}' on $documentId " +
                s"reported errors: ${r.error}",
              "document_id" -> documentId)
          }
          IngestResult(documentId, "updated", None)
        } catch {
          case e: Exception =>
            IngestResult(documentId, "updated", Some(errorText(e)))
        }
      }
        // the barrier: phase-1 results are in before phase 2 starts
        .collect().toSeq

    // ---- phase 2: new documents --------------------------------------
    val newReport = NewDocuments
      .ingestBatch(spark, newDocs, cfg, fetcher, converter, runTs, conf)

    // ---- report (O4/K3): one JSON array, deterministic order --------
    val results = (updateReport ++ newReport).sortBy(r => (r.ingest_type, r.document_id))
    val reportPath =
      s"${cfg.pipelineRoot}/$inputDirPath/reports/ingest/batch_1.json"
    val arr = PyJson.mapper.createArrayNode()
    results.foreach { r => // a null error is written as JSON null
      arr.addObject().put("document_id", r.document_id)
        .put("type", r.ingest_type).put("error", r.error.orNull)
    }
    Fetcher.withRetry(2) {
      Storage.writeString(reportPath, PyJson.dumps(arr, indent = 2),
        sc.hadoopConfiguration)
    }
    RunReport(results, reportPath)
  }
}
