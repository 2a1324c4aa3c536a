package graft.ingest

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import graft.model.Mappings
import graft.model.Mappings.Actions
import graft.model.Schemas.{Update, UpdateConfig, UpdateResult}
import org.apache.hadoop.conf.Configuration

/** Update-path operators (SURVEY.md §2 U1–U10, §3.3): per-document action
  * dispatch, ordering/short-circuit, schema-tolerant JSON field edits and
  * archive renames over the pipeline cache.
  *
  * Updates stay GROUPED per document — one row per document id carrying
  * its update array — so one task executes a document's actions strictly
  * in order (the reference's per-document sequential semantics,
  * `updated_document_actions.py:33-62`). Edits are raw-JSON surgery via
  * insertion-ordered ObjectNodes: unknown fields and field order survive
  * (the integration contract, `test_integration.py:353-358`).
  */
object Updates {

  private val archiveTsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd-HH-mm-ss").withZone(ZoneOffset.UTC)

  /** U2: update type → action name; unknown types throw (caught per row
    * by the caller → IngestResult.error, reference `main.py:184-196`).
    */
  def dispatch(updateType: String): String =
    Mappings.UpdateTypeActions.getOrElse(updateType,
      throw new IllegalArgumentException(
        s"'$updateType' is not a valid UpdateTypes"))

  /** U3: if any action is `parse`, run ONLY the first such action; else
    * stable-sort with `update_dont_parse` last
    * (reference `updated_document_actions.py:65-86`).
    */
  def orderActions(actions: Seq[(Update, String)]): Seq[(Update, String)] =
    actions.find(_._2 == Actions.Parse) match {
      case Some(parseAction) => Seq(parseAction)
      case None =>
        actions.sortBy { case (_, name) => Mappings.ActionPriority(name) }
    }

  /** U4: candidate cache keys for a document under one prefix. */
  def documentFiles(prefixPath: String, documentId: String,
      suffix: String): Seq[String] = Seq(
    s"$prefixPath/$documentId.$suffix",
    s"$prefixPath/${documentId}_translated_en.$suffix")

  private def prefixPath(cfg: UpdateConfig, prefix: String): String =
    s"${cfg.pipelineRoot}/$prefix"

  private def archivePath(cfg: UpdateConfig, prefix: String,
      documentId: String, ts: String, suffix: String): String =
    s"${cfg.pipelineRoot}/${cfg.archivePrefix}/$prefix/$documentId/$ts.$suffix"

  /** U7: optimistic single-field edit of a cached JSON doc. Missing file →
    * benign no-op; value mismatch → log-only; missing FIELD → error string
    * (reference `updated_document_actions.py:342-412`). `newValueJson` /
    * `existingValueJson` are canonical JSON text (string|object|null).
    */
  def updateFileField(path: String, updateType: String,
      newValueJson: Option[String], existingValueJson: Option[String],
      conf: Configuration): Option[String] = {
    val bytes = Storage.readIfExists(path, conf).getOrElse(return None)
    val pipelineField = Mappings.PipelineFieldMapping(updateType)
    val doc = PyJson.parse(new String(bytes, StandardCharsets.UTF_8))
    val obj = doc.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    if (!obj.has(pipelineField))
      return Some(s"KeyError: '$pipelineField' not found in $path")
    // optimistic-concurrency check is log-only in the reference (:366-380)
    val newNode = newValueJson.map(PyJson.parse)
      .getOrElse(PyJson.mapper.nullNode())
    obj.set[com.fasterxml.jackson.databind.JsonNode](pipelineField, newNode)
    Storage.writeString(path, PyJson.dumps(obj), conf)
    None
  }

  /** U6: edit the field in parser+embeddings JSONs (incl. translated),
    * then archive the indexer npy + json → re-embed without re-parsing
    * (reference `updated_document_actions.py:89-186`).
    */
  def updateDontParse(documentId: String, update: Update, cfg: UpdateConfig,
      runTs: Instant, conf: Configuration): Seq[String] = {
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for (prefix <- Seq(cfg.parserInputPrefix, cfg.embeddingsInputPrefix);
         file <- documentFiles(prefixPath(cfg, prefix), documentId, "json"))
      updateFileField(file, update.`type`, update.db_value, update.s3_value,
        conf).foreach(errors += _)
    val ts = archiveTsFmt.format(runTs)
    for (suffix <- Seq("npy", "json"))
      Storage.rename(
        s"${prefixPath(cfg, cfg.indexerInputPrefix)}/$documentId.$suffix",
        archivePath(cfg, cfg.indexerInputPrefix, documentId, ts, suffix),
        conf).foreach(errors += _)
    errors.toSeq
  }

  /** U5: archive EVERY artifact (3 prefixes × json+npy × translated
    * variants) → full re-processing next run
    * (reference `updated_document_actions.py:189-237`).
    */
  def parse(documentId: String, update: Update, cfg: UpdateConfig,
      runTs: Instant, conf: Configuration): Seq[String] = {
    val ts = archiveTsFmt.format(runTs)
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for (prefix <- Seq(cfg.parserInputPrefix, cfg.embeddingsInputPrefix,
           cfg.indexerInputPrefix);
         suffix <- Seq("json", "npy");
         file <- documentFiles(prefixPath(cfg, prefix), documentId, suffix))
      Storage.rename(file,
        archivePath(cfg, prefix, documentId, ts, suffix),
        conf).foreach(errors += _)
    errors.toSeq
  }

  /** U10: archive embeddings+indexer artifacts only → re-parse/re-embed
    * without re-download (reference `updated_document_actions.py:240-288`).
    */
  def reparse(documentId: String, update: Update, cfg: UpdateConfig,
      runTs: Instant, conf: Configuration): Seq[String] = {
    val ts = archiveTsFmt.format(runTs)
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for (prefix <- Seq(cfg.embeddingsInputPrefix, cfg.indexerInputPrefix);
         suffix <- Seq("json", "npy");
         file <- documentFiles(prefixPath(cfg, prefix), documentId, suffix))
      Storage.rename(file,
        archivePath(cfg, prefix, documentId, ts, suffix),
        conf).foreach(errors += _)
    errors.toSeq
  }

  /** U9: field edit across all 3 prefixes, no archiving
    * (reference `updated_document_actions.py:291-339`).
    */
  def updateFieldInAllOccurences(documentId: String, update: Update,
      cfg: UpdateConfig, runTs: Instant, conf: Configuration): Seq[String] = {
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    for (prefix <- Seq(cfg.parserInputPrefix, cfg.embeddingsInputPrefix,
           cfg.indexerInputPrefix);
         file <- documentFiles(prefixPath(cfg, prefix), documentId, "json"))
      updateFileField(file, update.`type`, update.db_value, update.s3_value,
        conf).foreach(errors += _)
    errors.toSeq
  }

  private def runAction(name: String, documentId: String, update: Update,
      cfg: UpdateConfig, runTs: Instant, conf: Configuration): Seq[String] =
    name match {
      case Actions.Parse => parse(documentId, update, cfg, runTs, conf)
      case Actions.UpdateDontParse =>
        updateDontParse(documentId, update, cfg, runTs, conf)
      case Actions.Reparse => reparse(documentId, update, cfg, runTs, conf)
      case Actions.UpdateFieldInAllOccurences =>
        updateFieldInAllOccurences(documentId, update, cfg, runTs, conf)
    }

  /** Python `str(list)` of the per-action error list — the reference
    * stringifies it into `UpdateResult.error`, so "[]" means success
    * (`updated_document_actions.py:55-62`, SURVEY.md §3.3).
    */
  def stringifyErrors(errors: Seq[String]): String =
    errors.map(e => "'" + e.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString("[", ", ", "]")

  /** U1: dispatch, order, execute sequentially; one UpdateResult per
    * executed action (reference `updated_document_actions.py:33-62`).
    */
  def updateDocument(documentId: String, updates: Seq[Update],
      cfg: UpdateConfig, runTs: Instant,
      conf: Configuration): Seq[UpdateResult] = {
    val actions = updates.map(u => (u, dispatch(u.`type`)))
    orderActions(actions).map { case (update, actionName) =>
      val errors = runAction(actionName, documentId, update, cfg, runTs, conf)
      UpdateResult(documentId, update.`type`, stringifyErrors(errors))
    }
  }
}
