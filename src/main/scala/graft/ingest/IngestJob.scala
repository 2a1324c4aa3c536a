package graft.ingest

import java.time.Instant

import graft.model.Schemas.{BackendDocument, IngestResult, Update, UpdateConfig}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** Two-phase ingest driver (SURVEY.md §2 O1–O5, §3.1).
  *
  * Phase 1 (updates) runs TO COMPLETION before phase 2 (new documents)
  * starts — the barrier is a correctness property (a new doc and an update
  * to the same id must not race, reference `main.py:164-229`). Each phase
  * is one `collect` over one effectful partition stage; per-row
  * failures become `IngestResult.error` strings and the job always
  * completes (reference `main.py:184-196,221-227`; exit 0 asserted by
  * `test_integration.py:440,494`).
  */
object IngestJob {

  /** One run's outcome: the report rows plus where they were written. */
  case class RunReport(results: Seq[IngestResult], reportPath: String)

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
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

    val controlPath = s"${cfg.pipelineRoot}/$inputDirPath/$updatesFileName"
    val control = ControlFile.read(spark, controlPath)
    control.persist(StorageLevel.MEMORY_AND_DISK)

    // released on every exit: a malformed control file or a failed
    // parser-input write must not leave the cached relation behind in a
    // long-lived session
    val (updateReport, newReport) = try {
      // ---- phase 1: updates ------------------------------------------
      val updates: Dataset[(String, Seq[Update])] =
        ControlFile.updatedDocuments(control).as[(String, Seq[Update])]
          // same lesson as phase 2 (NewDocuments.ingestBatch): the control
          // file is ONE json file → one input partition, so without this
          // every document's rename/edit I/O runs serially in a single
          // task. One row = one document with its grouped actions, so the
          // per-document sequential semantics (U1) survive any partitioning;
          // the shuffle moves only ids + update metadata. Measured by the
          // updates-only soak: 42 → 216 updates/sec at 8 cores.
          .repartition(spark.sparkContext.defaultParallelism)
      val updateResults: Dataset[IngestResult] = updates.mapPartitions { rows =>
        val c = conf.value
        rows.map { case (documentId, docUpdates) =>
          try {
            val actionResults =
              Updates.updateDocument(documentId, docUpdates, cfg, runTs, c)
            // faithful report semantics: per-action error lists do NOT fail
            // the document (reference main.py:184-196 discards them too),
            // but they must not vanish silently — surface them in the log
            actionResults.filter(_.error != "[]").foreach { r =>
              JsonLog.error("updated_document_actions",
                s"update action '${r.update_type}' on $documentId " +
                  s"reported errors: ${r.error}",
                "document_id" -> documentId)
            }
            IngestResult(documentId, "updated", None)
          } catch {
            case e: Exception =>
              IngestResult(documentId, "updated",
                Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        }
      }
      // the barrier: collect phase-1 results before phase 2 triggers
      val updateReport = updateResults.collect().toSeq

      // ---- phase 2: new documents ------------------------------------
      val newReport = NewDocuments
        .ingestBatch(control, cfg, fetcher, converter, runTs, conf)
      (updateReport, newReport)
    } finally control.unpersist()

    // ---- report (O4/K3): one JSON array, deterministic order --------
    val results = (updateReport ++ newReport).sortBy(r => (r.ingest_type, r.document_id))
    val reportPath =
      s"${cfg.pipelineRoot}/$inputDirPath/reports/ingest/batch_1.json"
    val arr = PyJson.mapper.createArrayNode()
    results.foreach { r =>
      val o = arr.addObject()
      o.put("document_id", r.document_id)
      o.put("type", r.ingest_type)
      r.error match {
        case Some(e) => o.put("error", e)
        case None => o.putNull("error")
      }
    }
    Fetcher.withRetry(2) {
      Storage.writeString(reportPath, PyJson.dumps(arr, indent = 2),
        spark.sparkContext.hadoopConfiguration)
    }
    RunReport(results, reportPath)
  }
}
